package graft

import org.apache.spark.sql.functions._
import graft.ann.Ann
import graft.dedup.Dedup
import graft.sources.Tables

/** Accuracy specs for the approximate operators, versus their exact
  * counterparts on real testdata (SURVEY.md §2 rows-only entries). */
class DedupAnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val embs = Tables.embeddings(spark, sfDir)

  test("ngram-jaccard prefix filter == naive all-shingles join (map-side prefix)") {
    // pins the r13 map-side prefix rewrite (the compiled
    // graft_prefix_tokens expression over the cached shingle array,
    // replacing the exploded groupBy(id, n) + collect_list
    // aggregate): the PPJoin candidate
    // set must stay complete — every pair the definitional
    // all-shingles join finds at the threshold must survive
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("doc_a", "doc_b", "j").as[(Long, Long, Double)].collect().toSet
    val sh = Dedup.withShingles(docs, "doc_id", "text", 3)
    val ex = sh.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("s"))
    val a = ex.toDF("doc_a", "na", "s")
    val naive = a.join(ex.toDF("doc_b", "nb", "s"), "s")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b", "na", "nb")
      .agg(count(lit(1)).cast("double").as("inter"))
      .select(col("doc_a"), col("doc_b"),
        (floor(col("inter") / (col("na") + col("nb") - col("inter"))
          * 1000000 + 0.5) / 1000000).as("j"))
      .filter(col("j") >= 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == naive)
    assert(naive.nonEmpty, "testdata should contain planted near-dups")
  }

  test("minhash LSH pairs == exact ngram-jaccard pairs at 0.8") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val mh = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 64, 16, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(mh == exact)
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
  }

  test("simhash pairs have small hamming distance and include exact dups") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", 3)
      .as[(Long, Long, Int)].collect()
    assert(pairs.forall(_._3 <= 3))
    // high-jaccard (≈1.0) pairs should mostly be simhash-close too
    val exact1 = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.95)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val simSet = pairs.map(p => (p._1, p._2)).toSet
    assert(exact1.intersect(simSet).size >= exact1.size / 2)
  }

  test("cell-blocked embcos: vector-derived blocking, subset of brute force, pinned recall") {
    val (_, centers) = graft.ann.Ivf.build(embs, "vec_id", "embedding", nCells = 8)
    val cells = Dedup.cellAssignments(embs, "vec_id", "embedding", centers, nProbe = 3)
    val blocked = Dedup.embCosPairsFromCells(cells, embs, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute-force truth via a constant block key (exact all-pairs)
    val brute = Dedup.embCosPairs(embs.withColumn("__one", lit(1)),
      "vec_id", "embedding", "__one", 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(blocked.subsetOf(brute), "blocking must never invent pairs")
    assert(brute.nonEmpty)
    // the fixture's 0.4 threshold is DELIBERATELY loose (boundary
    // pairs, the hard case for any blocking); production near-dup
    // thresholds (>= 0.9) sit deep inside cells. Pinned at the
    // measured fixed-seed floor minus margin.
    val recall = blocked.size.toDouble / brute.size
    assert(recall >= 0.80, f"cell blocking recall $recall%.3f under floor")
    // and the cells must PRUNE: candidate pairs strictly below brute
    val n = embs.count()
    val candPairs = cells.toDF("a", "cell")
      .join(cells.toDF("b", "cell"), Seq("cell"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
    assert(candPairs < n * (n - 1) / 2,
      s"cell blocking should prune: $candPairs vs ${n * (n - 1) / 2}")
  }

  test("embcos blocked pairs are symmetric-free and above threshold") {
    val pairs = Dedup.embCosPairs(embs, "vec_id", "embedding", "label", 0.3)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect()
    assert(pairs.forall(p => p._1 < p._2 && p._3 >= 0.3))
    assert(pairs.nonEmpty)
  }

  test("lsh ANN: candidates pruned vs corpus, decent recall vs brute force") {
    val q = embs.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val qCol = array(q.map(lit): _*)
    val brute = Ann.bruteForceTopK(embs.filter(col("vec_id") =!= 0),
      "vec_id", "embedding", qCol, 10).select("vec_id").as[Long].collect().toSet
    val lsh = Ann.lshTopK(embs.filter(col("vec_id") =!= 0), "vec_id",
      "embedding", q, 10, 64, tables = 8, planes = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(lsh.intersect(brute).size >= 3, s"recall too low: $lsh vs $brute")
    // the scale point: LSH scans a strict subset of the corpus
    val candFilter = (0 until 8).map(t =>
      Ann.lshBucket(col("embedding"), 64, t, 4) === Ann.lshBucket(qCol, 64, t, 4))
      .reduce(_ || _)
    val nCand = embs.filter(candFilter).count()
    assert(nCand < embs.count(), "LSH should prune the candidate set")
  }

  test("IVF ANN: exhaustive probe == brute force; small probe prunes") {
    val q = embs.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val qCol = array(q.map(lit): _*)
    val rest = embs.filter(col("vec_id") =!= 0)
    val brute = Ann.bruteForceTopK(rest, "vec_id", "embedding", qCol, 10)
      .select("vec_id").as[Long].collect().toSeq
    val (indexed, centers) = graft.ann.Ivf.build(rest, "vec_id", "embedding", nCells = 8)
    // probing every cell is exhaustive → identical to brute force
    val full = graft.ann.Ivf.topK(indexed, centers, "vec_id", "embedding",
      q, 10, nProbe = 8).select("vec_id").as[Long].collect().toSeq
    assert(full == brute)
    // probing 2/8 cells scans a strict subset
    val probed = graft.ann.Ivf.topK(indexed, centers, "vec_id", "embedding",
      q, 10, nProbe = 2)
    assert(probed.count() == 10)
    val cellSizes = indexed.groupBy("cell").count().count()
    assert(cellSizes == 8, "quantizer should populate all cells")
  }

  test("IVF radius: lossless pruning — equals full scan; prunes on clustered data") {
    import graft.ann.Ivf
    // equality on the real (uniform-ish) corpus at two thresholds
    val q = embs.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val rest = embs.filter(col("vec_id") =!= 0)
    val (indexed, centers) = Ivf.build(rest, "vec_id", "embedding", nCells = 8)
    val radii = Ivf.cellRadii(indexed, centers, "embedding")
    for (t <- Seq(0.2, 0.05)) {
      val pruned = Ivf.radiusSearch(indexed, centers, radii,
          "vec_id", "embedding", q, minCos = t)
        .as[(Long, Double)].collect().toSet
      val full = Ann.radiusSearch(rest.crossJoin(broadcast(
          embs.filter(col("vec_id") === 0).select(col("embedding").as("q_vec")))),
          "vec_id", "embedding", col("q_vec"), minCos = t)
        .as[(Long, Double)].collect().toSet
      assert(pruned == full, s"threshold $t: pruned != full scan")
    }
    // clustered corpus: 3 tight clusters around orthogonal axes — the
    // bound must PRUNE the far clusters and still return exactly the
    // near cluster's members
    val dims = 8
    val mk = (axis: Int, i: Int) => Array.tabulate(dims)(j =>
      (if (j == axis) 1.0f else 0.0f) + (if (j == (axis + i) % dims) 0.01f * (i % 5) else 0.0f))
    val rows = for (a <- 0 until 3; i <- 0 until 40)
      yield ((a * 40 + i + 1).toLong, mk(a * 2, i).toSeq)
    val cdf = rows.toDF("vec_id", "embedding")
    val (cidx, ccent) = Ivf.build(cdf, "vec_id", "embedding", nCells = 3)
    val cradii = Ivf.cellRadii(cidx, ccent, "embedding")
    val cq = Array.tabulate(dims)(j => if (j == 0) 1.0 else 0.0).toSeq
    val probes = Ivf.radiusProbeCells(ccent, cradii, cq, minCos = 0.9)
    assert(probes.size < 3, s"expected pruning on clustered data, probed $probes")
    val prunedC = Ivf.radiusSearch(cidx, ccent, cradii,
        "vec_id", "embedding", cq, minCos = 0.9)
      .as[(Long, Double)].collect().toSet
    val fullC = Ann.radiusSearch(cdf, "vec_id", "embedding",
        typedLit(cq), minCos = 0.9)
      .as[(Long, Double)].collect().toSet
    assert(prunedC == fullC && prunedC.nonEmpty)
  }

  test("batch IVF top-k: exhaustive probe == exact batch top-k; probes prune") {
    import graft.operators.GroupTopK
    val queries = embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val corpus = embs.filter(col("vec_id") >= 10)
    val exact = GroupTopK.topK(
      corpus.crossJoin(broadcast(queries))
        .withColumn("cos", graft.functions.VectorOps.roundAt(
          graft.functions.VectorOps.cosineFast(col("embedding"), col("q_emb")), 6))
        .select(col("q_id"), col("vec_id"), col("cos")),
      Seq("q_id"), Seq(col("cos").desc, col("vec_id")), k = 3)
      .select("q_id", "vec_id", "rk").as[(Long, Long, Int)].collect().toSet
    val (indexed, centers) = graft.ann.Ivf.build(
      corpus, "vec_id", "embedding", nCells = 8)
    // probing EVERY cell is exhaustive → identical to the exact join
    val full = graft.ann.Ivf.batchTopK(indexed, centers, "vec_id",
        "embedding", queries, "q_id", "q_emb", k = 3, nProbe = 8)
      .select("q_id", "vec_id", "rk").as[(Long, Long, Int)].collect().toSet
    assert(full == exact)
    // partial probing returns k rows per query (from probed cells only)
    val part = graft.ann.Ivf.batchTopK(indexed, centers, "vec_id",
      "embedding", queries, "q_id", "q_emb", k = 3, nProbe = 2)
    assert(part.groupBy("q_id").count().select("count")
      .as[Long].collect().forall(_ == 3))
  }

  test("embcos blocks compose with LSH buckets when no labels exist") {
    // the general 100TB path: block key = deterministic LSH bucket
    val bucketed = embs.withColumn("bucket",
      Ann.lshBucket(col("embedding"), 64, table = 0, planes = 6))
    val pairs = Dedup.embCosPairs(bucketed, "vec_id", "embedding", "bucket", 0.3)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect()
    assert(pairs.forall(p => p._1 < p._2 && p._3 >= 0.3))
    // blocking prunes: way fewer comparisons than the full cross join
    val buckets = bucketed.groupBy("bucket").count()
      .as[(Long, Long)].collect()
    val blockedPairs = buckets.map { case (_, n) => n * (n - 1) / 2 }.sum
    val allPairs = embs.count() * (embs.count() - 1) / 2
    assert(blockedPairs < allPairs / 4,
      s"blocking should prune: $blockedPairs vs $allPairs")
  }

  test("exact groups count every doc exactly once") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
    assert(g.agg(sum("n_docs")).as[Long].head() == docs.count())
  }

  test("bloom-prefiltered incremental dedup is bit-identical to the plain form") {
    val base = Dedup.baseHashes(docs.filter(col("doc_id") % 3 =!= 0), "text")
    val inc = docs.filter(col("doc_id") % 3 === 0)
    val plain = Dedup.incrementalKeep(base, inc, "doc_id", "text")
      .as[(String, Long)].collect().sorted.toSeq
    val bloomed = Dedup.incrementalKeepBloom(base, inc, "doc_id", "text",
      expectedItems = 4096)
      .as[(String, Long)].collect().sorted.toSeq
    assert(plain == bloomed && plain.nonEmpty)
  }

  test("bloom prefilter prunes a mostly-novel batch before the anti-join") {
    import spark.implicits._
    val base = Seq("b1", "b2", "b3").toDF("t")
      .select(graft.functions.TextOps.exactHash(col("t")).as("h")).distinct()
    val inc = (1L to 1000L).map(i => (i, s"novel doc $i")).toDF("doc_id", "text")
    val bloom = base.stat.bloomFilter("h", 3, 0.01)
    val survivors = inc
      .select(graft.functions.TextOps.exactHash(col("text")).as("h"))
      .collect().count(r => bloom.mightContainString(r.getString(0)))
    // no base hash is in the batch: everything past the filter is a
    // false positive, bounded well under the 1% design point x slack
    assert(survivors <= 50, s"bloom should prune novel hashes, kept $survivors")
  }

  test("bloomMightContain long path: no false negatives, nulls definitely-absent") {
    import spark.implicits._
    val keys = (1L to 500L).map(_ * 7)
    val keyDf = keys.toDF("k")
    val bloom = keyDf.stat.bloomFilter("k", 500, 0.01)
    val b = spark.sparkContext.broadcast(bloom)
    def might(c: org.apache.spark.sql.Column) =
      graft.functions.expressions.SketchProbes.bloomMightContain(c, b)
    // every inserted long MUST probe true (no false negatives — the
    // long probe must match stat.bloomFilter's putLong encoding; a
    // string-encoded probe of a long-built filter returns ~all-false)
    val hits = keyDf.filter(might(col("k"))).count()
    assert(hits == keys.size, s"false negatives on the long path: $hits")
    // absent keys mostly reject (fpp design point x slack)
    val absent = (1L to 1000L).map(_ * 7 + 3).toDF("k")
      .filter(might(col("k"))).count()
    assert(absent <= 50, s"bloom long probe not pruning: $absent")
    // null keys are "definitely absent": false, never null — both
    // filter branches still partition all rows
    val withNull = Seq(Some(7L), None).toDF("k")
    assert(withNull.filter(might(col("k"))).count() == 1)
    assert(withNull.filter(!might(col("k"))).count() == 1)
  }

  test("semdedup prune == brute-force dominance rule on testdata") {
    import spark.implicits._
    val (indexed, centers) = graft.ann.Ivf.build(
      embs, "vec_id", "embedding", nCells = 8)
    val kept = graft.dedup.SemDedup.pruneFromCells(
        indexed.select("vec_id", "cell"), embs, "vec_id", "embedding",
        centers, minCos = 0.4)
      .select("vec_id").as[Long].collect().toSet

    // driver-side oracle: same rounding, same double math, all pairs
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
    def cos(a: Array[Double], b: Array[Double]) =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val rows = indexed
      .select(col("vec_id"), col("cell"),
        col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val rank = rows.map { case (id, cell, v) =>
      id -> (r6(cos(v, centers(cell))), id)
    }.toMap
    val expected = rows.filter { case (id, cell, v) =>
      !rows.exists { case (oid, ocell, ov) =>
        ocell == cell && Ordering[(Double, Long)].lt(rank(oid), rank(id)) &&
          r6(cos(ov, v)) >= 0.4
      }
    }.map(_._1).toSet
    assert(kept == expected)
    assert(kept.size < rows.length, "planted near-dups must prune rows")
    // the SemDeDup diversity rule: nothing ranks before a cell's
    // farthest-from-centroid member, so it is ALWAYS kept
    rows.groupBy(_._2).foreach { case (_, cellRows) =>
      val first = cellRows.map(_._1).minBy(rank)
      assert(kept(first), s"cell-minimum $first must survive")
    }
  }
}
