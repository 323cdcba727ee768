package graft.queries

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.sources.Tables

/** Deduplication family over `documents` / `embeddings` (SURVEY.md §2).
  *
  * Oracle notes: the exact-Jaccard shingle join is fully SQL-
  * expressible, so ngram Jaccard (and embedding cosine) get DuckDB
  * oracles; MinHash-LSH and SimHash depend on xxhash64, which DuckDB
  * lacks → rows-only here, with ScalaTest specs asserting MinHash
  * pairs == exact-Jaccard pairs and SimHash self-consistency.
  */
object DedupQueries {

  // lsh_bucket_stats' band index (id, band, key): a maintained
  // dedup-store artifact, so the query times only the stats
  private def lshBandsFor(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    Artifacts.get("lsh_bands_k3s64b16", d) { p =>
      Dedup.minhashBandIndex(Tables.documents(s, d), "doc_id", "text",
          k = 3, sigLen = 64, bands = 16)
        .write.mode("overwrite").parquet(p)
      p
    }

  /** The monitor aggregation lsh_bucket_stats times: per-band bucket
    * count / max bucket / exact candidate-pair bound from a persisted
    * (id, band, key) index. */
  private def lshBucketStatsFrame(s: org.apache.spark.sql.SparkSession,
      p: String) =
    s.read.parquet(p)
      .groupBy("band", "key").agg(count(lit(1)).as("sz"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_buckets"),
        max("sz").as("max_size"),
        sum(expr("sz * (sz - 1) div 2")).as("cand_pairs"))
      // bounded result (one row per band) — see QueryDef.sortSmall
      .transform(QueryDef.sortSmall(_, col("band")))

  // dedup_embcos' (vec_id, cell) IVF assignment table: the corpus's
  // ANN index — production maintains it beside the vectors (rebuilt
  // at ingest), so the measured near-dup query is the candidate join
  // + verify, not the quantizer train + assignment write. The oracle
  // replays the candidate join from the same parquet.
  private def embcosCellsFor(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    Artifacts.get("embcos_cells8_probe3", d) { p =>
      val embs = Tables.embeddings(s, d)
      val (_, centers) = graft.ann.Ivf.build(
        embs, "vec_id", "embedding", nCells = 8)
      Dedup.cellAssignments(embs, "vec_id", "embedding", centers, nProbe = 3)
        .write.mode("overwrite").parquet(p)
      p
    }

  // The base corpus (doc_id % 3 != 0) of the incremental family and
  // its next batch (doc_id % 3 == 0)
  private val inBase = pmod(col("doc_id"), lit(3)) =!= 0
  private val inBatch = pmod(col("doc_id"), lit(3)) === 0

  // dedup_incremental_bloom's Bloom filter over the base hashes: a
  // maintenance-cycle artifact (rebuilt when the base compacts, not
  // per batch)
  private def baseBloomFor(d: String, base: org.apache.spark.sql.DataFrame)
      : org.apache.spark.util.sketch.BloomFilter =
    Artifacts.get("base_bloom_8192", d) { _ =>
      base.stat.bloomFilter(base.columns.head, 8192, 0.01)
    }

  // dedup_clusters_incremental's base artifacts: the base corpus's
  // component labels (the dedup store's primary artifact, maintained
  // across batches — the oracle replays the merge from the SAME
  // labels) and its band + shingle index tables (maintained
  // append-only beside them). The measured increment is batch
  // signatures + band probe + the super-node merge, never base CC or
  // base re-shingling.
  private def ccBaseFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    Artifacts.get("ccbase_labels", d) { p =>
      Dedup.corpusLabels(Tables.documents(s, d).filter(inBase),
          "doc_id", "text")
        .write.mode("overwrite").parquet(p)
      p
    }
  private def ccBaseIndexFor(s: org.apache.spark.sql.SparkSession,
      d: String): (String, String) =
    Artifacts.get("ccindex_base_k3s64b16", d) { p =>
      val base = Tables.documents(s, d).filter(inBase)
      Dedup.minhashBandIndex(base, "doc_id", "text",
        k = 3, sigLen = 64, bands = 16)
        .write.mode("overwrite").parquet(p + "/bands")
      Dedup.withShingles(base, "doc_id", "text", 3)
        .write.mode("overwrite").parquet(p + "/shingles")
      (p + "/bands", p + "/shingles")
    }

  // shared engine-stable cosine fragment — see QueryDef.cosSql

  // Shared SQL fragment: per-doc distinct 3-shingle list (matches
  // Hashing.shingles(k=3) incl. the short-doc whole-text fallback).
  private val shingleCte =
    """WITH ws AS (
      |  SELECT doc_id, string_split(text, ' ') AS w, text FROM documents
      |), sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    CASE WHEN len(w) >= 3 THEN
      |      list_transform(range(1, len(w) - 1),
      |        i -> array_to_string(w[i:i+2], ' '))
      |    ELSE [text] END)) AS shingle
      |  FROM ws
      |), sizes AS (
      |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
      |)""".stripMargin

  def defs: Map[String, QueryDef] = Map(
    // --- exact dup groups by content hash ---
    "dedup_exact" -> QueryDef.sql(
      (s, d) => Dedup.exactGroups(Tables.documents(s, d), "doc_id", "text")
        .orderBy("h"),
      """SELECT md5(text) AS h, count(*) AS n_docs, min(doc_id) AS keep_doc
        |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin),

    // --- n-gram shingle Jaccard similarity join (threshold 0.8) ---
    "dedup_ngram_jaccard" -> QueryDef.sql(
      (s, d) => Dedup.ngramJaccardPairs(Tables.documents(s, d),
        "doc_id", "text", k = 3, minJ = 0.8)
        .orderBy("doc_a", "doc_b"),
      shingleCte +
        """
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  floor((count(*)::DOUBLE / (sa.n + sb.n - count(*)))*1000000 + 0.5)/1000000 AS j
        |FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |JOIN sizes sa ON sa.doc_id = a.doc_id
        |JOIN sizes sb ON sb.doc_id = b.doc_id
        |GROUP BY a.doc_id, b.doc_id, sa.n, sb.n
        |HAVING floor((count(*)::DOUBLE / (sa.n + sb.n - count(*)))*1000000 + 0.5)/1000000 >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin),

    // --- incremental exact dedup: a new batch (doc_id % 3 == 0)
    // arrives against the already-deduped rest of the corpus; an
    // incoming doc survives iff no base doc shares its hash AND it is
    // the min-id holder within the increment. The corpus-maintenance
    // pattern — at scale the base is a persisted hash table, and each
    // increment is one anti-join + one group-by over the BATCH only
    // (the query derives the base hash set inline because the fixture
    // has no persisted one). ---
    "dedup_incremental" -> QueryDef.sql(
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.incrementalKeep(
          Dedup.baseHashes(docs.filter(inBase), "text"),
          docs.filter(inBatch),
          "doc_id", "text")
          .orderBy("h")
      },
      """WITH base AS (
        |  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 3 <> 0
        |), inc AS (
        |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 = 0
        |)
        |SELECT h, min(doc_id) AS doc_id FROM inc
        |WHERE h NOT IN (SELECT h FROM base)
        |GROUP BY h ORDER BY h""".stripMargin),

    // --- incremental NEAR-dup (the LSH twin of dedup_incremental):
    // the batch (doc_id % 3 == 0) probes the base's persisted
    // band-key index with one equi-join, the candidate sliver is
    // exact-verified, and a batch doc survives iff no base doc
    // reaches J >= 0.8. Batch cost is O(batch + matches), never
    // O(base) — corpus maintenance without recomputing the corpus.
    // Oracle: the exact cross Jaccard join (the LSH banding's
    // candidate completeness at 0.8 is the same property the
    // dedup_minhash gate proves pairwise). Accepted probabilistic
    // risk (same as dedup_minhash): with sigLen=64/bands=16 (r=4), a
    // pair at exactly J=0.8 escapes every band with
    // (1-0.8^4)^16 ≈ 2e-4 — a testdata regeneration could in
    // principle fail this gate with no code bug; pairs the fixture
    // actually produces sit far enough from the threshold that the
    // gate has been stable across regenerations. ---
    "dedup_minhash_incremental" -> QueryDef.sql(
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.minhashIncrementalKeep(
          docs.filter(inBase),
          docs.filter(inBatch),
          "doc_id", "text", k = 3, sigLen = 64, bands = 16, minJ = 0.8)
          .orderBy("doc_id")
      },
      shingleCte +
        """
        |, xp AS (
        |  SELECT a.doc_id AS doc_n, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |  JOIN sizes sa ON sa.doc_id = a.doc_id
        |  JOIN sizes sb ON sb.doc_id = b.doc_id
        |  WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0
        |  GROUP BY a.doc_id, b.doc_id, sa.n, sb.n
        |  HAVING floor((count(*)::DOUBLE / (sa.n + sb.n - count(*)))*1000000 + 0.5)/1000000 >= 0.8)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 3 = 0 AND doc_id NOT IN (SELECT doc_n FROM xp)
        |ORDER BY doc_id""".stripMargin),

    // --- bloom-prefiltered incremental dedup: same semantics (and
    // oracle) as dedup_incremental, but the base hash set rides as a
    // Bloom filter so only true duplicates + the fpp sliver pay the
    // anti-join — the scale path when the base is billions of hashes
    // and each batch is mostly novel. Bit-identical output (no false
    // negatives; the exact join resolves every maybe). ---
    "dedup_incremental_bloom" -> QueryDef.sql(
      // the Bloom over the base is an artifact, so the measured
      // increment is the probe + anti-join sliver
      (s, d) => {
        val docs = Tables.documents(s, d)
        val base = Dedup.baseHashes(docs.filter(inBase), "text")
        Dedup.incrementalKeepWithBloom(baseBloomFor(d, base), base,
          docs.filter(inBatch), "doc_id", "text")
          .orderBy("h")
      },
      """WITH base AS (
        |  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 3 <> 0
        |), inc AS (
        |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 = 0
        |)
        |SELECT h, min(doc_id) AS doc_id FROM inc
        |WHERE h NOT IN (SELECT h FROM base)
        |GROUP BY h ORDER BY h""".stripMargin),

    // --- keep-list materialization: drop the higher-id side of every
    // near-dup pair (first-wins policy, the standard LSH-dedup keep
    // rule; no iterative connected components needed). Pair generation
    // uses MinHash-LSH — the generator you'd run at 100 TB — whose
    // output is spec-proven identical to the exact-Jaccard join here
    // (and the DuckDB oracle is the exact join, so any divergence
    // hash-fails) ---
    "dedup_keeplist" -> QueryDef.sql(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val drop = Dedup.minhashLshPairs(docs, "doc_id", "text",
          k = 3, sigLen = 64, bands = 16, minJ = 0.8)
          .select(col("doc_b").as("doc_id")).distinct()
        docs.join(drop, Seq("doc_id"), "left_anti")
          .select("doc_id").orderBy("doc_id")
      },
      shingleCte +
        """
        |, pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  JOIN sizes sa ON sa.doc_id = a.doc_id
        |  JOIN sizes sb ON sb.doc_id = b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, sa.n, sb.n
        |  HAVING floor((count(*)::DOUBLE / (sa.n + sb.n - count(*)))*1000000 + 0.5)/1000000 >= 0.8)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
        |ORDER BY doc_id""".stripMargin),

    // --- MinHash + LSH banding (64 sigs, 16 bands × 4 rows), exact
    // verify at 0.8. Output contract is IDENTICAL to the exact-Jaccard
    // join (16 bands × 4 rows makes the banding a superset generator
    // at J>=0.8 on this corpus, spec-proven in DedupSpec), so it gets
    // the same DuckDB oracle — a hash mismatch would mean the LSH
    // candidate generation dropped a true pair. ---
    "dedup_minhash" -> QueryDef.sql(
      (s, d) => Dedup.minhashLshPairs(Tables.documents(s, d),
        "doc_id", "text", k = 3, sigLen = 64, bands = 16, minJ = 0.8)
        .orderBy("doc_a", "doc_b"),
      shingleCte +
        """
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  floor((count(*)::DOUBLE / (sa.n + sb.n - count(*)))*1000000 + 0.5)/1000000 AS j
        |FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |JOIN sizes sa ON sa.doc_id = a.doc_id
        |JOIN sizes sb ON sb.doc_id = b.doc_id
        |GROUP BY a.doc_id, b.doc_id, sa.n, sb.n
        |HAVING floor((count(*)::DOUBLE / (sa.n + sb.n - count(*)))*1000000 + 0.5)/1000000 >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin),

    // --- benchmark decontamination (GPT-3-style n-gram overlap
    // removal): docs sharing any 3-shingle with the "benchmark" set
    // (doc_id < 10 stands in) are dropped; eval shingles broadcast,
    // corpus never shuffles. Oracle replays the same set algebra over
    // the shared shingle CTE. ---
    "decontaminate" -> QueryDef.sql(
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.decontaminate(docs, "doc_id", "text",
          docs.filter(col("doc_id") < 10).select(col("doc_id"), col("text")),
          "text", k = 3)
          .select("doc_id").orderBy("doc_id")
      },
      shingleCte +
        """
        |, eval_g AS (
        |  SELECT DISTINCT shingle FROM sh WHERE doc_id < 10
        |), contaminated AS (
        |  SELECT DISTINCT s.doc_id FROM sh s JOIN eval_g e USING (shingle)
        |)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
        |ORDER BY doc_id""".stripMargin),

    // --- directional containment near-dup (the partial-copy
    // detector: C(a→b) = |Sa∩Sb|/|Sa| — a short doc quoted inside a
    // long one has tiny Jaccard but containment ~1). Threshold 0.6
    // over distinct 3-shingles; oracle replays the same join + count
    // + rounded division. ---
    "dedup_containment" -> QueryDef.sql(
      (s, d) => Dedup.containmentPairs(
        Tables.documents(s, d), "doc_id", "text", k = 3, minC = 0.6)
        .orderBy("doc_a", "doc_b"),
      shingleCte +
        """
        |, px AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |    AND a.doc_id <> b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |)
        |SELECT p.doc_a, p.doc_b,
        |  floor((p.inter::DOUBLE / sa.n)*1000000 + 0.5)/1000000 AS containment
        |FROM px p JOIN sizes sa ON sa.doc_id = p.doc_a
        |WHERE floor((p.inter::DOUBLE / sa.n)*1000000 + 0.5)/1000000 >= 0.6
        |ORDER BY doc_a, doc_b""".stripMargin),

    // --- fraction-thresholded decontamination (the Llama-style
    // "dirty fraction" refinement of `decontaminate`): a doc drops
    // only when >= 50% of its distinct shingles appear in the eval
    // set. Integer threshold compare (h*100 >= 50*n) — bit-exact at
    // the boundary on both engines. Same scale shape: eval broadcast,
    // two per-doc partial-agg counts, anti-join. ---
    "decontaminate_overlap" -> QueryDef.sql(
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.decontaminateOverlap(docs, "doc_id", "text",
          docs.filter(col("doc_id") < 10).select(col("doc_id"), col("text")),
          "text", k = 3, minOverlapPct = 50)
          .select("doc_id").orderBy("doc_id")
      },
      shingleCte +
        """
        |, eval_g AS (
        |  SELECT DISTINCT shingle FROM sh WHERE doc_id < 10
        |), cnt AS (
        |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        |), hit AS (
        |  SELECT s.doc_id, count(*) AS h
        |  FROM sh s JOIN eval_g e USING (shingle) GROUP BY s.doc_id
        |), dirty AS (
        |  SELECT c.doc_id FROM cnt c JOIN hit h ON c.doc_id = h.doc_id
        |  WHERE h.h * 100 >= 50 * c.n
        |)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM dirty)
        |ORDER BY doc_id""".stripMargin),

    // --- corpus n-gram statistics: global top-20 3-shingles by doc
    // frequency (partial-agg'd counts + TakeOrdered) ---
    // --- LSH band-bucket statistics (the skew observability the
    // minhash family needs in production: candidate-join cost is
    // Σ_buckets s·(s−1)/2, and ONE hot bucket — a boilerplate shingle
    // set, a degenerate band — is the difference between an O(matches)
    // dedup and an accidental quadratic join; this query is the
    // monitor that catches it BEFORE the join runs). Per band:
    // bucket count, max bucket, exact candidate-pair bound. Oracle
    // protocol = dedup_simhash's: the build persists the band index
    // (id, band, key) computed by the same native signature
    // expressions, DuckDB replays the statistics relationally —
    // banding drift, a lost doc, or a wrong bound all hash-fail
    // (signature correctness itself is pinned by HashingSpec).
    // s·(s−1) is even, so `div 2` stays exact integer arithmetic. ---
    "lsh_bucket_stats" -> QueryDef.sql(
      (s, d) => lshBucketStatsFrame(s, lshBandsFor(s, d)),
      s"""WITH b AS (
        |  SELECT band, key, count(*) AS sz
        |  FROM read_parquet('${Artifacts.path("lsh_bands_k3s64b16")}/*.parquet')
        |  GROUP BY band, key
        |)
        |SELECT band, count(*) AS n_buckets, max(sz) AS max_size,
        |  CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS cand_pairs
        |FROM b GROUP BY band ORDER BY band""".stripMargin),

    // --- per-doc n-gram novelty (the corpus-curation profiling
    // statistic behind "how much of this batch is genuinely new
    // text"): fraction of a doc's distinct 3-gram shingles whose
    // FIRST corpus occurrence (min doc_id over carriers) is this doc.
    // Sinks toward 0 for boilerplate-heavy docs, 1 for novel text —
    // the per-doc view that dedup keep-rules aggregate away. Scale
    // shape: one-pass native shingling inside the scan, ONE
    // shingle-keyed shuffle for first-carriers, join back on shingle
    // (both sides shingle-partitioned — no second shuffle of the
    // exploded side), per-doc re-aggregation; the exploded frame is
    // tracked so the self-referencing join reuses it instead of
    // re-shingling the corpus per branch. All-integer counts until
    // the final 6-dp division. ---
    "ngram_novelty" -> QueryDef.sql(
      (s, d) => {
        val sh = graft.CacheScope.track(
          Dedup.withShingles(QueryDef.spread(Tables.documents(s, d)),
              "doc_id", "text", 3)
            .select(col("doc_id"), explode(col("sh")).as("shingle")))
        val first = sh.groupBy("shingle").agg(min("doc_id").as("first_doc"))
        sh.join(first, Seq("shingle"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
              .as("n_novel"),
            graft.functions.VectorOps.roundAt(
              sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
                .cast("double") / count(lit(1)), 6).as("novelty_frac"))
          .orderBy("doc_id")
      },
      shingleCte +
        """
        |, first AS (
        |  SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle
        |)
        |SELECT s.doc_id, count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  floor((sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*))*1000000 + 0.5)/1000000 AS novelty_frac
        |FROM sh s JOIN first f USING (shingle)
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin),

    "ngram_freq" -> QueryDef.sql(
      (s, d) => Dedup.withShingles(Tables.documents(s, d), "doc_id", "text", 3)
        .select(explode(col("sh")).as("shingle"))
        .groupBy("shingle").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("shingle"))
        .limit(20),
      shingleCte +
        """
        |SELECT shingle, count(*) AS df FROM sh
        |GROUP BY shingle ORDER BY df DESC, shingle LIMIT 20""".stripMargin),

    // --- transitive near-dup clusters: connected components over the
    // MinHash-LSH pair graph (min reachable doc id = cluster id).
    // Near-dup is not transitive, so keep-lists need the closure; the
    // Spark side is iterative min-label propagation (one shuffle per
    // round, O(diameter) rounds), the oracle a DuckDB RECURSIVE CTE
    // over the exact-Jaccard pair graph — LSH dropping a true pair or
    // the propagation under-converging both hash-fail. ---
    "dedup_clusters" -> QueryDef.sql(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
          k = 3, sigLen = 64, bands = 16, minJ = 0.8)
          .select("doc_a", "doc_b")
        Dedup.connectedComponents(docs.select("doc_id"), pairs)
          .orderBy("doc_id")
      },
      shingleCte.replaceFirst("WITH ws", "WITH RECURSIVE ws") +
        """
        |, pairs AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  JOIN sizes sa ON sa.doc_id = a.doc_id
        |  JOIN sizes sb ON sb.doc_id = b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, sa.n, sb.n
        |  HAVING floor((count(*)::DOUBLE / (sa.n + sb.n - count(*)))*1000000 + 0.5)/1000000 >= 0.8
        |), edges AS (
        |  SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs
        |), reach(id, lbl) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id
        |)
        |SELECT id AS doc_id, min(lbl) AS cluster
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),

    // --- quality-aware cluster dedup: the production keep policy.
    // dedup_clusters keeps min-id; real pipelines keep the BEST
    // member of each near-dup cluster (longest / highest-quality —
    // here n_chars desc, doc_id asc tiebreak). Same component
    // machinery, then one n_chars broadcast-size join and a
    // per-CLUSTER row_number window — partitioned by cluster label,
    // never a global window, so the selection scales with the widest
    // cluster, not the corpus. Oracle: the RECURSIVE component
    // closure + the same argmax replayed relationally. ---
    "dedup_keep_best" -> QueryDef.sql(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
          k = 3, sigLen = 64, bands = 16, minJ = 0.8)
          .select("doc_a", "doc_b")
        val cc = Dedup.connectedComponents(docs.select("doc_id"), pairs)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("cluster")
          .orderBy(col("n_chars").desc, col("doc_id").asc)
        cc.join(docs.select("doc_id", "n_chars"), "doc_id")
          .withColumn("keep", row_number().over(w) === 1)
          .select(col("doc_id"), col("cluster"), col("keep"))
          .orderBy("doc_id")
      },
      shingleCte.replaceFirst("WITH ws", "WITH RECURSIVE ws") +
        """
        |, pairs AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  JOIN sizes sa ON sa.doc_id = a.doc_id
        |  JOIN sizes sb ON sb.doc_id = b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, sa.n, sb.n
        |  HAVING floor((count(*)::DOUBLE / (sa.n + sb.n - count(*)))*1000000 + 0.5)/1000000 >= 0.8
        |), edges AS (
        |  SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs
        |), reach(id, lbl) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id
        |), comp AS (
        |  SELECT id AS doc_id, min(lbl) AS cluster FROM reach GROUP BY id
        |), ranked AS (
        |  SELECT c.doc_id, c.cluster,
        |    row_number() OVER (PARTITION BY c.cluster
        |      ORDER BY d.n_chars DESC, c.doc_id) AS rk
        |  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
        |)
        |SELECT doc_id, cluster, rk = 1 AS keep
        |FROM ranked ORDER BY doc_id""".stripMargin),

    // --- incremental component maintenance: a new batch's pairs
    // merge into the PERSISTED base labels without recomputing the
    // base graph (the cluster-level completion of the incremental
    // family: exact → Bloom → minhash-band → components). The build
    // reads the base label artifact, generates only batch-touching
    // pairs (batch LSH + band probe of the base index), and merges
    // via super-node projection (Dedup.clustersIncremental — base
    // labels broadcast-joined, never shuffled). DuckDB replays the
    // merge as a RECURSIVE reach over base-label links + the exact
    // batch-touching pair set from the SAME persisted labels, so a
    // wrong projection, a lost relabel, or a recomputed base
    // hash-fails. ---
    "dedup_clusters_incremental" -> QueryDef.sql(
      // ONE batch signature pass, shared between the within-batch
      // self-join and the base-index probe, then the super-node merge
      (s, d) => {
        val baseLabels = s.read.parquet(ccBaseFor(s, d))
          .select("doc_id", "cluster")
        val (pb, ps) = ccBaseIndexFor(s, d)
        val batch = Tables.documents(s, d).filter(inBatch)
        val edges = Dedup.minhashIncrementalEdgesFromIndex(
          s.read.parquet(pb), s.read.parquet(ps), batch, "doc_id", "text",
          k = 3, sigLen = 64, bands = 16, minJ = 0.8)
        Dedup.clustersIncremental(baseLabels, batch.select("doc_id"), edges)
          .orderBy("doc_id")
      },
      shingleCte.replaceFirst("WITH ws", "WITH RECURSIVE ws") +
        s"""
        |, np AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  JOIN sizes sa ON sa.doc_id = a.doc_id
        |  JOIN sizes sb ON sb.doc_id = b.doc_id
        |  WHERE a.doc_id % 3 = 0 OR b.doc_id % 3 = 0
        |  GROUP BY a.doc_id, b.doc_id, sa.n, sb.n
        |  HAVING floor((count(*)::DOUBLE / (sa.n + sb.n - count(*)))*1000000 + 0.5)/1000000 >= 0.8
        |), bl AS (
        |  SELECT doc_id, cluster FROM read_parquet('${Artifacts.path("ccbase_labels")}/*.parquet')
        |), edges AS (
        |  SELECT a, b FROM np UNION ALL SELECT b, a FROM np
        |  UNION ALL SELECT doc_id AS a, cluster AS b FROM bl WHERE doc_id <> cluster
        |  UNION ALL SELECT cluster AS a, doc_id AS b FROM bl WHERE doc_id <> cluster
        |), reach(id, lbl) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id
        |)
        |SELECT id AS doc_id, min(lbl) AS cluster
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),

    // --- 64-bit SimHash, 4×16-bit band join, Hamming <= 3 — oracled
    // via the signature-persist protocol: the build writes the per-doc
    // signature table (native xxhash64 one-pass — no engine can replay
    // the hash itself; the signature math has its own equivalence
    // specs) and then computes pairs FROM THE PERSISTED TABLE, while
    // DuckDB replays banding + Hamming from the same parquet with pure
    // bit ops (shift/mask/xor/popcount). The whole distributed half —
    // band explode, equi-join, Hamming filter placement, distinct —
    // is hash-gated; arithmetic-shift band keys match because
    // (sim >> s) & 0xFFFF is sign-extension-invariant. ---
    "dedup_simhash" -> QueryDef.sql(
      (s, d) => {
        val p = Artifacts.path("simhash_sigs", d)
        val sigs = Dedup.simhashSigs(Tables.documents(s, d), "doc_id", "text")
        sigs.write.mode("overwrite").parquet(p)
        Dedup.simhashPairsFromSigs(s.read.parquet(p),
            "doc_id", maxHamming = 3)
          .orderBy("doc_a", "doc_b")
      },
      s"""WITH sigs AS (
         |  SELECT doc_id, sim FROM read_parquet('${Artifacts.path("simhash_sigs")}/*.parquet')
         |), e AS (
         |  SELECT doc_id, sim, band, (sim >> (band * 16)) & 65535 AS key
         |  FROM sigs CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b
         |)
         |SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
         |  CAST(bit_count(xor(l.sim, r.sim)) AS INTEGER) AS hamming
         |FROM e l JOIN e r
         |  ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
         |WHERE bit_count(xor(l.sim, r.sim)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin),

    // --- embedding-cosine near-dup pairs, blocked by multi-probe IVF
    // cells derived from the VECTORS ALONE (a real corpus has no
    // label column) — the signature-persist protocol: the build
    // trains the coarse quantizer (ann/Ivf, fixed seed), writes the
    // (vec_id, cell) assignment table to a dataset-keyed path, and
    // computes within-cell pairs FROM THE PERSISTED TABLE; DuckDB
    // replays the same candidate join + cosine arithmetic from the
    // same parquet. The whole distributed half — assignment explode,
    // cell equi-join, distinct, vector join-back, cosine threshold —
    // is hash-gated. Cell recall vs brute force is pinned in
    // DedupAnnSpec (blocking quality is a property of (K, nProbe),
    // not of this query's join machinery).
    // BUILD-ROUND ITEM (recorded r12/r13): nCells = 8 is FIXED, so
    // within-cell exact pair counts grow quadratically with corpus
    // size (sf0.1→sf1 measured 1.25→24 s, ~19× for 10× data). The fix
    // is √N-scaled cells at a constant probe fraction — exactly what
    // ann_batch_ivf got in r9 — but the cell geometry is part of the
    // DECLARED candidate set, so the change re-declares the query and
    // its oracle: first item for the next build round, out of scope
    // for an optimization round. ---
    "dedup_embcos" -> QueryDef.sql(
      // sortBarrier: the candidate join broadcasts at test scale (no
      // shuffle files) — the ORDER BY's sampling would re-run every
      // pairwise dot product without the barrier
      (s, d) => QueryDef.sortBarrier(
        Dedup.embCosPairsFromCells(s.read.parquet(embcosCellsFor(s, d)),
          Tables.embeddings(s, d), "vec_id", "embedding", minCos = 0.4))
        .orderBy("id_a", "id_b"),
      s"""WITH asg AS (
         |  SELECT vec_id, cell FROM read_parquet('${Artifacts.path("embcos_cells8_probe3")}/*.parquet')
         |), cand AS (
         |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM asg x JOIN asg y ON x.cell = y.cell AND x.vec_id < y.vec_id
         |), p AS (
         |  SELECT c.id_a, c.id_b,
         |    ${QueryDef.cosSql("a.embedding", "b.embedding")} AS cos
         |  FROM cand c
         |  JOIN embeddings a ON a.vec_id = c.id_a
         |  JOIN embeddings b ON b.vec_id = c.id_b)
         |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.4
         |ORDER BY id_a, id_b""".stripMargin),

    // --- SemDeDup pruning (arXiv:2303.09540): k-means cells +
    // within-cell dominance drop — the KEEP/DROP decision operator on
    // top of the pair-finding machinery. Both the cluster assignment
    // and the quantizer are persisted; DuckDB recomputes every
    // centroid cosine, the rank, the within-cell dominance EXISTS and
    // the surviving set from those tables — the whole distributed
    // half (assignment pass, cell self-join, rank filter placement,
    // anti-join) is hash-gated. ---
    "dedup_semantic" -> QueryDef.sql(
      (s, d) => {
        val p = Artifacts.path("sem_cells", d)
        val pc = Artifacts.path("sem_cents", d)
        val embs = Tables.embeddings(s, d)
        val (indexed, centers) = graft.ann.Ivf.build(
          embs, "vec_id", "embedding", nCells = 8)
        indexed.select("vec_id", "cell")
          .write.mode("overwrite").parquet(p)
        import s.implicits._
        centers.zipWithIndex
          .map { case (c, i) => (i, c.toSeq) }.toSeq
          .toDF("cell", "centroid")
          .coalesce(1).write.mode("overwrite").parquet(pc)
        graft.dedup.SemDedup.pruneFromCells(
            s.read.parquet(p), embs, "vec_id", "embedding",
            centers, minCos = 0.4)
          .orderBy("vec_id")
      },
      s"""WITH asg AS (
         |  SELECT vec_id, cell FROM read_parquet('${Artifacts.path("sem_cells")}/*.parquet')
         |), cents AS (
         |  SELECT cell, centroid FROM read_parquet('${Artifacts.path("sem_cents")}/*.parquet')
         |), v AS (
         |  SELECT a.vec_id, a.cell,
         |    floor((
         |      list_sum(list_transform(range(1, 65),
         |        i -> CAST(e.embedding[i] AS DOUBLE) * c.centroid[i]))
         |      / (sqrt(list_sum(list_transform(range(1, 65),
         |           i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
         |       * sqrt(list_sum(list_transform(range(1, 65),
         |           i -> c.centroid[i] * c.centroid[i])))))
         |      *1000000 + 0.5)/1000000 AS cent_cos
         |  FROM asg a
         |  JOIN embeddings e ON e.vec_id = a.vec_id
         |  JOIN cents c ON c.cell = a.cell
         |), pc AS (
         |  SELECT y.vec_id AS y_id,
         |    ${QueryDef.cosSql("ea.embedding", "eb.embedding")} AS c
         |  FROM v x
         |  JOIN v y ON x.cell = y.cell
         |    AND (x.cent_cos < y.cent_cos
         |         OR (x.cent_cos = y.cent_cos AND x.vec_id < y.vec_id))
         |  JOIN embeddings ea ON ea.vec_id = x.vec_id
         |  JOIN embeddings eb ON eb.vec_id = y.vec_id
         |), dom AS (
         |  -- NaN cosines (zero/corrupt vectors) are NOT duplicates:
         |  -- both engines order NaN above every number, so without
         |  -- the explicit isnan a corrupt vector would be pruned as
         |  -- "similar to everything" (the build applies the same rule)
         |  SELECT DISTINCT y_id AS vec_id FROM pc
         |  WHERE NOT isnan(c) AND c >= 0.4
         |)
         |SELECT vec_id, cell, cent_cos FROM v
         |WHERE vec_id NOT IN (SELECT vec_id FROM dom)
         |ORDER BY vec_id""".stripMargin)
  )
}
