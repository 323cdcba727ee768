package graft.queries

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.functions.TextOps
import graft.operators.Sampling
import graft.sources.Tables

/** Corpus-hygiene operators of the LLM-data-pipeline surface
  * (SURVEY.md §2): PII redaction, URL canonicalization, sub-document
  * (paragraph) dedup, and deterministic stratified sampling for data
  * mixing.
  *
  * The synthetic documents table carries none of these artifacts
  * (no digits, no URLs, no paragraph breaks — verified invariant), so
  * each query injects them deterministically as pure functions of
  * doc_id — identically expressible on both engines — and the oracle
  * predicts the operator's full output arithmetically, without using
  * the operator itself. Same pattern as multimodal_decode: the
  * operator under test (regex scrub, URL rules, the dedup shuffle,
  * the hash sampler) must be faithful for the hash to match.
  */
object CorpusQueries {

  /** Per-language keep fractions for the data-mixing sample. */
  private val mixRates = Map("en" -> 0.5, "es" -> 0.25, "zh" -> 0.75)

  // sample_budget's per-language char budgets: all four BIND at both
  // sf0.01 and sf0.1 (stratum mass 19.5k–615k chars), 'es' is
  // deliberately unbudgeted
  private val budgetMap = Map("en" -> 30000L, "de" -> 8000L,
    "fr" -> 8000L, "zh" -> 10000L)
  private def budgetLangsSql: String =
    budgetMap.keys.toSeq.sorted.map(l => s"'$l'").mkString(", ")
  private def budgetCaseSql: String =
    "CASE lang " + budgetMap.toSeq.sorted.map { case (l, b) =>
      s"WHEN '$l' THEN $b" }.mkString(" ") + " END"

  // sample_temperature's per-stratum copy rates: a corpus statistic
  // (maintained at ingest in production) derived from corpus counts
  // (driver-side, O(strata)); the oracle thunk interpolates the same
  // rates as (whole, frac-threshold) literals, so both engines
  // resample with identical integer/string comparisons
  private val TempRates = "temperature_rates_a0.5"

  // dedup_lines' deterministic line fixture: every doc gains a nav
  // line (shared by doc_id%8) and a footer (doc_id%100), then its
  // text is re-lined into 10-word rows
  private def linedDocs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val did = col("doc_id")
    Tables.documents(s, d)
      .withColumn("ws", split(col("text"), " "))
      .select(did, concat_ws("\n",
        concat(lit("nav menu "), (did % 8).cast("string")),
        concat(lit("copyright footer "), (did % 100).cast("string")),
        expr("""array_join(transform(
          sequence(0, cast(ceil(size(ws)/10.0) as int) - 1),
          i -> array_join(slice(ws, i*10+1, 10), ' ')), '\n')"""))
        .as("aug"))
  }

  private def dedupLinesSelect(stripped: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    // tracked: the map-side strip plan has NO exchange below the
    // output orderBy, so RangePartitioner's sampling job would
    // re-execute the whole scan+strip pipeline a second time; the
    // barrier materializes it once (sample + sort read the cache)
    graft.CacheScope.track(stripped
      .select(col("doc_id"), md5(col("aug")).as("fp"),
        length(col("aug")).cast("bigint").as("kept_chars")))
      .orderBy("doc_id")

  // boilerplate-line statistic as an artifact SET — the
  // quantilesOf/hotKeysOf discipline: the statistic is a property of
  // the DATA, maintained at ingest (C4 deployments persist exactly
  // this set), so the strip pays ZERO extra actions per execution (it
  // is also persisted to parquet so the path stays inspectable)
  private def boilerSetFor(s: org.apache.spark.sql.SparkSession,
      d: String): Set[String] =
    Artifacts.get("boiler_lines_min3", d) { p =>
      Dedup.boilerplateLineSet(linedDocs(s, d), "doc_id", "aug", minDocs = 3L)
        .write.mode("overwrite").parquet(p)
      s.read.parquet(p).collect().map(_.getString(0)).toSet
    }

  // split_by_cluster's persisted full-corpus label table (the dedup
  // store's primary artifact — the ccBaseFor discipline); the oracle
  // replays split assignment and leakage from the SAME labels
  private def ccFullFor(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    Artifacts.get("ccfull_labels", d) { p =>
      Dedup.corpusLabels(Tables.documents(s, d), "doc_id", "text")
        .write.mode("overwrite").parquet(p)
      p
    }

  // ONE definition of the md5-prefix split fate (train:val:test =
  // 208:24:24 / 256) — split_assign and split_by_cluster derive both
  // the Column expression and the SQL CASE from these thresholds
  // (the mixRates/mixCaseSql discipline), so split_by_cluster's
  // naive-leak report can never compare against a desynchronized rule
  private val splitTrainLt = "d0"
  private val splitValLt = "e8"
  private def splitFate(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val pfx = substring(md5(c.cast("string")), 1, 2)
    when(pfx < splitTrainLt, "train")
      .when(pfx < splitValLt, "val").otherwise("test")
  }
  private def splitFateSql(e: String): String =
    s"""CASE WHEN substr(md5(CAST($e AS VARCHAR)),1,2) < '$splitTrainLt'
       |       THEN 'train'
       |     WHEN substr(md5(CAST($e AS VARCHAR)),1,2) < '$splitValLt'
       |       THEN 'val'
       |     ELSE 'test' END""".stripMargin

  private def mixCaseSql: String =
    mixRates.map { case (l, r) =>
      f"WHEN '$l' THEN '${math.floor(r * 256).toInt}%02x'"
    }.mkString("CASE lang ", " ", " ELSE 'zz' END")

  def defs: Map[String, QueryDef] = Map(

    // --- PII scrub: inject a deterministic email / phone / IP per
    // doc, count each class pre-redaction, redact with typed
    // placeholders. Oracle predicts counts and the redacted string
    // without any regex. ---
    "pii_redact" -> QueryDef.sql(
      (s, d) => {
        val did = col("doc_id")
        val email = concat(lit("user"), did.cast("string"),
          lit("@mail"), (did % 10).cast("string"), lit(".com"))
        val phone = concat(lit("555-"), lpad((did % 10000).cast("string"), 4, "0"))
        val ip = concat((did % 256).cast("string"), lit("."),
          ((did * 7) % 256).cast("string"), lit("."),
          ((did * 13) % 256).cast("string"), lit("."),
          ((did * 29) % 256).cast("string"))
        val aug = concat(col("text"),
          lit(" contact "), when(did % 2 === 0, email).otherwise(lit("")),
          lit(" call "), when(did % 3 === 0, phone).otherwise(lit("")),
          lit(" ip "), ip)
        val (ne, np, ni) = TextOps.piiCounts(aug)
        // sorted-at-rest + narrow chain: local sort. A job trace
        // (perfbench/run.py --trace 1) showed the global orderBy ran the regex chain TWICE (the range
        // boundary sampling executes the projection with the child,
        // 0.38s each pass); the local sort runs it once on the scan
        // split (0.88s -> 0.43s)
        Tables.documents(s, d).select(did,
          ne.as("n_emails"), np.as("n_phones"), ni.as("n_ips"),
          TextOps.redactPii(aug).as("redacted"))
          .sortWithinPartitions("doc_id")
      },
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INT) AS n_emails,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT) AS n_phones,
        |  CAST(1 AS INT) AS n_ips,
        |  text || ' contact '
        |    || CASE WHEN doc_id % 2 = 0 THEN '<EMAIL>' ELSE '' END
        |    || ' call '
        |    || CASE WHEN doc_id % 3 = 0 THEN '<PHONE>' ELSE '' END
        |    || ' ip <IP>' AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin),

    // --- URL canonicalization + per-domain rollup: scheme/case/www/
    // tracking-param/fragment stripping, then group by extracted
    // domain. Oracle constructs the canonical form directly. ---
    "url_normalize" -> QueryDef.sql(
      (s, d) => {
        val did = col("doc_id")
        val raw = concat(lit("https://WWW.Host"), (did % 7).cast("string"),
          lit(".Example.COM/p/"), did.cast("string"),
          when(did % 2 === 0,
            concat(lit("?utm_source=feed&sid="), did.cast("string")))
            .otherwise(lit("")),
          when(did % 5 === 0, lit("#sec")).otherwise(lit("")))
        Tables.documents(s, d)
          .select(did, raw.as("raw"), TextOps.normalizeUrl(raw).as("norm"))
          .groupBy(TextOps.urlDomain(col("norm")).as("domain"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("raw").contains("?"), 1L).otherwise(0L)).as("n_tracked"),
            sum(length(col("norm")).cast("bigint")).as("sum_len"))
          // bounded result (one row per domain) — see QueryDef.sortSmall
          .transform(QueryDef.sortSmall(_, col("domain")))
      },
      """WITH u AS (
        |  SELECT doc_id,
        |    'host' || (doc_id % 7) || '.example.com' AS domain,
        |    'host' || (doc_id % 7) || '.example.com/p/' || doc_id AS norm,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS tracked
        |  FROM documents)
        |SELECT domain, count(*) AS n_docs,
        |  CAST(sum(tracked) AS BIGINT) AS n_tracked,
        |  CAST(sum(length(norm)) AS BIGINT) AS sum_len
        |FROM u GROUP BY domain ORDER BY domain""".stripMargin),

    // --- URL-level dedup — the crawl-pipeline step BEFORE content
    // dedup: raw URLs differ by case, www, tracking params and
    // fragments but normalize to one canonical form; a canonical URL
    // keeps its lowest doc_id (first crawl wins), everything else is
    // a re-fetch. Same synthesize-and-predict oracle protocol as
    // url_normalize: the raw form is derived from doc_id so DuckDB
    // predicts the canonical arithmetically while Spark runs the real
    // normalizer over the real strings — a normalizer change that
    // breaks canonicalization hash-fails. doc_id % 50 paths make
    // genuine dup groups (different tracking junk, same canonical).
    // ---
    "dedup_url" -> QueryDef.sql(
      (s, d) => {
        val did = col("doc_id")
        val raw = concat(lit("https://WWW.Host"), (did % 7).cast("string"),
          lit(".Example.COM/p/"), (did % 50).cast("string"),
          when(did % 2 === 0,
            concat(lit("?utm_source=feed&sid="), did.cast("string")))
            .otherwise(lit("")),
          when(did % 5 === 0, lit("#sec")).otherwise(lit("")))
        Tables.documents(s, d)
          .select(did, TextOps.normalizeUrl(raw).as("url"))
          .groupBy("url")
          .agg(count(lit(1)).as("n_docs"), min(did).as("keep_doc"))
          .orderBy("url")
      },
      """WITH u AS (
        |  SELECT doc_id,
        |    'host' || (doc_id % 7) || '.example.com/p/' || (doc_id % 50) AS url
        |  FROM documents)
        |SELECT url, count(*) AS n_docs, min(doc_id) AS keep_doc
        |FROM u GROUP BY url ORDER BY url""".stripMargin),

    // --- paragraph-level exact dedup: each doc gets a unique intro
    // paragraph, a boilerplate paragraph shared by every 40th doc,
    // and its (usually unique) body; a paragraph survives only in the
    // lowest-id document containing it. Oracle replays the same
    // min-per-paragraph rule in SQL windows. ---
    "dedup_paragraph" -> QueryDef.sql(
      (s, d) => {
        val did = col("doc_id")
        val aug = concat_ws("\n\n",
          concat(lit("intro "), did.cast("string")),
          concat(lit("shared boilerplate "), (did % 40).cast("string")),
          col("text"))
        val withAug = Tables.documents(s, d).select(did, aug.as("aug"))
        Dedup.paragraphDedup(withAug, "doc_id", "aug")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_paras"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("keep"), length(col("para")).cast("bigint"))
              .otherwise(0L)).as("kept_len"))
          .orderBy("doc_id")
      },
      """WITH aug AS (
        |  SELECT doc_id, 'intro ' || doc_id || chr(10) || chr(10)
        |    || 'shared boilerplate ' || (doc_id % 40) || chr(10) || chr(10)
        |    || text AS aug
        |  FROM documents),
        |paras AS (
        |  SELECT doc_id, unnest(string_split(aug, chr(10) || chr(10))) AS para
        |  FROM aug),
        |kp AS (
        |  SELECT doc_id, para, min(doc_id) OVER (PARTITION BY para) AS keeper
        |  FROM paras)
        |SELECT doc_id, count(*) AS n_paras,
        |  CAST(sum(CASE WHEN doc_id = keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN doc_id = keeper THEN length(para) ELSE 0 END) AS BIGINT) AS kept_len
        |FROM kp GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // --- C4-style corpus-frequency line removal (the third C4 rule,
    // distinct from dedup_paragraph's keep-first: a line occurring in
    // >= 3 DISTINCT docs is boilerplate — nav menus, footers — and is
    // dropped from EVERY doc, not kept once). Fixture: each doc gains
    // a nav line shared by doc_id%8 and a footer shared by
    // doc_id%100, then its text re-lined into 10-word rows. Spark
    // runs Dedup.stripBoilerplateLines (explode → distinct-doc counts
    // with partial agg → anti-join on the line key → ordered
    // reassembly; two key shuffles, nothing driver-side); the oracle
    // rebuilds the same line table and replays the count rule. A doc
    // whose every line is boilerplate drops out entirely (C4
    // semantics: empty docs are discarded). ---
    "dedup_lines" -> QueryDef.sql(
      // the boilerplate line set is an artifact, so the query is the
      // strip pass ALONE — one map-side graft_strip_lines pass over the
      // corpus, the set riding the plan as a literal
      (s, d) => dedupLinesSelect(Dedup.stripLinesLiteral(
        linedDocs(s, d), "doc_id", "aug", boilerSetFor(s, d))),
      """WITH series AS (
        |  SELECT unnest(range(1, 65)) AS i
        |), ws AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), lines0 AS (
        |  SELECT doc_id, 0 AS pos, 'nav menu ' || (doc_id % 8) AS line FROM ws
        |  UNION ALL
        |  SELECT doc_id, 1, 'copyright footer ' || (doc_id % 100) FROM ws
        |  UNION ALL
        |  SELECT doc_id, 1 + s.i,
        |    array_to_string(w[(s.i-1)*10+1:(s.i-1)*10+10], ' ')
        |  FROM ws JOIN series s ON s.i <= CAST(ceil(len(w)/10.0) AS INT)
        |), boiler AS (
        |  SELECT lower(trim(line)) AS norm
        |  FROM lines0 WHERE length(lower(trim(line))) > 0
        |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3
        |), kept AS (
        |  SELECT l.doc_id, l.pos, l.line
        |  FROM lines0 l LEFT JOIN boiler b ON lower(trim(l.line)) = b.norm
        |  WHERE b.norm IS NULL
        |)
        |SELECT doc_id, md5(string_agg(line, chr(10) ORDER BY pos)) AS fp,
        |  CAST(length(string_agg(line, chr(10) ORDER BY pos)) AS BIGINT)
        |    AS kept_chars
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // --- substring-level (span) exact dedup: maximal word spans of
    // length >= 8 occurring in >= 2 distinct docs — the passage-level
    // duplication that doc/paragraph dedup miss (the synthetic corpus
    // genuinely contains repeated passages; nothing is injected).
    // Oracle replays positional-shingle + min/max-window + islands in
    // SQL; engines use different shingle hashes (xxhash64 vs md5),
    // which agree exactly because only collision-free equality
    // matters. ---
    "dedup_substring" -> QueryDef.sql(
      (s, d) => Dedup.substringSpans(Tables.documents(s, d),
        "doc_id", "text", k = 8)
        .orderBy("doc_id", "span_start"),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |s AS (SELECT doc_id, unnest(list_transform(
        |        range(1, greatest(len(ws)-8+2, 1)),
        |        i -> struct_pack(pos := i-1,
        |               h := md5(array_to_string(ws[i:i+8-1], ' '))))) AS u
        |      FROM t),
        |o AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM s),
        |d AS (SELECT doc_id, pos,
        |        min(doc_id) OVER (PARTITION BY h)
        |          <> max(doc_id) OVER (PARTITION BY h) AS dup
        |      FROM o),
        |i AS (SELECT doc_id, pos,
        |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |      FROM d WHERE dup)
        |SELECT doc_id,
        |  CAST(min(pos) AS INT) AS span_start,
        |  CAST(max(pos) + 8 - 1 AS INT) AS span_end,
        |  CAST(max(pos) - min(pos) + 8 AS INT) AS span_words
        |FROM i GROUP BY doc_id, isl
        |ORDER BY doc_id, span_start""".stripMargin),

    // --- variable-length MAXIMAL exact-substring dedup (Lee et al.
    // longest-match semantics; extends dedup_substring's fixed-k
    // islands): each duplicated k-shingle occurrence aligns against
    // the corpus-FIRST occurrence of its content, and runs advancing
    // in lockstep (same partner doc, same diagonal) chain into one
    // span — every reported span is verbatim duplicated at the
    // reported partner offset, spans of >= 16 words, within-doc
    // repeats included. See Dedup.maximalSpans for the scale
    // argument (bounded per-hash aggregate state; the chain window
    // partitions by (doc, partner, diagonal), never globally).
    // Oracle replays partner choice, diagonals and islands in SQL
    // with md5 shingles (only collision-free equality matters). ---
    "dedup_substring_maximal" -> QueryDef.sql(
      (s, d) => Dedup.maximalSpans(Tables.documents(s, d),
          "doc_id", "text", k = 8, minWords = 16)
        .orderBy("doc_id", "span_start", "src_doc", "src_start"),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |s AS (SELECT doc_id, unnest(list_transform(
        |        range(1, greatest(len(ws)-8+2, 1)),
        |        i -> struct_pack(pos := i-1,
        |               h := md5(array_to_string(ws[i:i+8-1], ' '))))) AS u
        |      FROM t),
        |o AS (SELECT doc_id, u.pos AS pos, u.h AS h,
        |        struct_pack(d := doc_id, p := u.pos) AS st FROM s),
        |f AS (SELECT h, min(st) AS m1, count(*) AS n FROM o GROUP BY h),
        |j AS (SELECT o.doc_id, o.pos, o.h, o.st, f.m1
        |      FROM o JOIN f ON f.h = o.h WHERE f.n >= 2),
        |m2 AS (SELECT h, min(st) AS m2 FROM j WHERE st <> m1 GROUP BY h),
        |a AS (SELECT j.doc_id, j.pos,
        |        CASE WHEN j.st = j.m1 THEN m2.m2 ELSE j.m1 END AS pt
        |      FROM j JOIN m2 ON m2.h = j.h),
        |dg AS (SELECT doc_id, pos, pt.d AS src, pt.p - pos AS diag FROM a),
        |i AS (SELECT doc_id, pos, src, diag,
        |        pos - row_number() OVER (
        |          PARTITION BY doc_id, src, diag ORDER BY pos) AS isl
        |      FROM dg)
        |SELECT doc_id,
        |  CAST(min(pos) AS INT) AS span_start,
        |  CAST(max(pos) + 8 - 1 AS INT) AS span_end,
        |  CAST(max(pos) - min(pos) + 8 AS INT) AS span_words,
        |  src AS src_doc,
        |  CAST(min(pos) + diag AS INT) AS src_start
        |FROM i GROUP BY doc_id, src, diag, isl
        |HAVING max(pos) - min(pos) + 8 >= 16
        |ORDER BY doc_id, span_start, src_doc, src_start""".stripMargin),

    // --- substring-level SCRUB: the removal stage on top of span
    // finding (public exact-substring dedup removes all but one copy
    // of each duplicated passage). Keeper = minimum doc id per
    // shingle hash; later copies lose the covered words; the md5 of
    // each rewritten doc rides through the gate instead of the full
    // text. Oracle replays shingle → keeper → coverage → anti-join →
    // ordered reassembly in SQL. ---
    // --- content-defined chunk dedup (FastCDC/rsync boundaries at
    // word granularity): a word ends a chunk when its md5-derived
    // 32-bit hash is 0 mod 16 — a shared passage chunks identically
    // in every doc regardless of surrounding edits (what fixed-width
    // windows lose under insertion shift). Report: chunks in >= 2
    // distinct docs with occurrence count + keeper. Boundary rule,
    // prefix-sum group ids, chunk assembly and the dup stats all
    // replay exactly in SQL (md5-substring hash, integer mod). ---
    "dedup_cdc" -> QueryDef.sql(
      (s, d) => Dedup.cdcDupChunks(Tables.documents(s, d),
          "doc_id", "text", mask = 16, minDocs = 2L)
        .orderBy("h"),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |u AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)+1),
        |        i -> struct_pack(i := i, word := ws[i],
        |               b := CASE WHEN ('0x' || substr(md5(ws[i]), 1, 8))::BIGINT
        |                           % 16 = 0 THEN 1 ELSE 0 END))) AS u
        |      FROM t),
        |tok AS (SELECT doc_id, u.i AS i, u.word AS word, u.b AS b FROM u),
        |g AS (SELECT doc_id, i, word,
        |        coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY i
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS grp
        |      FROM tok),
        |ch AS (SELECT doc_id, grp, md5(string_agg(word, ' ' ORDER BY i)) AS h
        |       FROM g GROUP BY doc_id, grp)
        |SELECT h, CAST(count(*) AS BIGINT) AS n_occ,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  min(doc_id) AS keep_doc
        |FROM ch GROUP BY h HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY h""".stripMargin),

    // --- the REMOVAL stage on top of dedup_cdc: all but one copy of
    // each cross-doc-duplicated content-defined chunk deleted (the
    // earliest doc keeps its copy); per-doc original/kept chunk counts
    // + md5 of the kept text. The hash-keyed keeper window moves only
    // (id, grp, h) — chunk text stays on the doc partitioning. ---
    "cdc_scrub" -> QueryDef.sql(
      (s, d) => Dedup.cdcScrub(Tables.documents(s, d),
          "doc_id", "text", mask = 16)
        .orderBy("doc_id"),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |u AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)+1),
        |        i -> struct_pack(i := i, word := ws[i],
        |               b := CASE WHEN ('0x' || substr(md5(ws[i]), 1, 8))::BIGINT
        |                           % 16 = 0 THEN 1 ELSE 0 END))) AS u
        |      FROM t),
        |tok AS (SELECT doc_id, u.i AS i, u.word AS word, u.b AS b FROM u),
        |g AS (SELECT doc_id, i, word,
        |        coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY i
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS grp
        |      FROM tok),
        |ch AS (SELECT doc_id, grp, string_agg(word, ' ' ORDER BY i) AS ct,
        |         md5(string_agg(word, ' ' ORDER BY i)) AS h
        |       FROM g GROUP BY doc_id, grp),
        |k AS (SELECT doc_id, grp, ct,
        |        min(doc_id) OVER (PARTITION BY h) = doc_id AS keep
        |      FROM ch)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(count(CASE WHEN keep THEN 1 END) AS BIGINT) AS n_kept,
        |  coalesce(md5(string_agg(CASE WHEN keep THEN ct END, ' '
        |    ORDER BY grp)), md5('')) AS kept_md5
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    "substring_scrub" -> QueryDef.sql(
      (s, d) => Dedup.substringScrub(Tables.documents(s, d),
        "doc_id", "text", k = 8)
        .orderBy("doc_id"),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |s AS (SELECT doc_id, unnest(list_transform(
        |        range(1, greatest(len(ws)-8+2, 1)),
        |        i -> struct_pack(pos := i-1,
        |               h := md5(array_to_string(ws[i:i+8-1], ' '))))) AS u
        |      FROM t),
        |o AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM s),
        |kp AS (SELECT doc_id, pos,
        |        min(doc_id) OVER (PARTITION BY h) AS keeper
        |      FROM o),
        |cov AS (SELECT DISTINCT kp.doc_id, kp.pos + g.i AS wpos
        |        FROM kp, generate_series(0, 7) AS g(i)
        |        WHERE kp.keeper < kp.doc_id),
        |w AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)+1),
        |        i -> struct_pack(wpos := i-1, w := ws[i]))) AS u
        |      FROM t),
        |ww AS (SELECT doc_id, u.wpos AS wpos, u.w AS w FROM w),
        |kept AS (
        |  SELECT ww.doc_id, ww.wpos, ww.w
        |  FROM ww LEFT JOIN cov ON ww.doc_id = cov.doc_id AND ww.wpos = cov.wpos
        |  WHERE cov.wpos IS NULL),
        |ka AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    md5(string_agg(w, ' ' ORDER BY wpos)) AS fp
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.ws) AS INT) AS n_words,
        |  CAST(coalesce(ka.n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(ka.fp, md5('')) AS fp
        |FROM t LEFT JOIN ka ON t.doc_id = ka.doc_id
        |ORDER BY t.doc_id""".stripMargin),

    // --- deterministic stratified sample (data mixing): per-language
    // keep fractions, membership a pure function of doc_id (hash
    // threshold) — reproducible across retries, partitionings, and
    // corpus growth. Oracle applies the identical md5-prefix rule. ---
    // --- deterministic train/val/test split assignment (the step
    // every training pipeline runs after curation; reproducible under
    // re-runs and corpus growth because a doc's split is a pure
    // function of its id, the same property as dedup_incremental's
    // keep rule). md5-prefix range thresholds give an exact-hex
    // 208:24:24/256 partition — no RNG, no global coordination —
    // stratification is REPORTED per (source, split) so a skewed
    // split is visible. Map-side assignment + one low-cardinality
    // groupBy at scan speed. ---
    "split_assign" -> QueryDef.sql(
      (s, d) => Tables.documents(s, d)
        .withColumn("split", splitFate(col("doc_id")))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .transform(QueryDef.sortSmall(_, col("source"), col("split"))),
      s"""SELECT source,
        |  ${splitFateSql("doc_id")} AS split,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY source, split
        |ORDER BY source, split""".stripMargin),

    // --- leakage-safe train/val/test assignment: a near-dup CLUSTER
    // must land whole on one side of the split, or eval leaks
    // training data — so the fate hash keys on the CLUSTER label
    // (every member follows its cluster), not the doc. Also reports
    // how many clusters the naive doc-keyed rule would have straddled
    // (the leak the cluster rule prevents). Labels come from the
    // persisted dedup-store artifact; both engines replay assignment
    // + leakage from the SAME table, all md5/count arithmetic. ---
    "split_by_cluster" -> QueryDef.sql(
      (s, d) => {
        val labels = s.read.parquet(ccFullFor(s, d)).select(col("doc_id"), col("cluster"))
        val a = labels.select(col("doc_id"), col("cluster"),
          splitFate(col("doc_id")).as("naive_split"),
          splitFate(col("cluster")).as("split"))
        val leaked = a.groupBy("cluster")
          .agg(countDistinct("naive_split").as("ns"))
          .filter(col("ns") > 1)
          .agg(count(lit(1)).as("leaked"))
        a.groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct("cluster").as("n_clusters"))
          .crossJoin(broadcast(leaked))
          .select(col("split"), col("n_docs"), col("n_clusters"),
            col("leaked").as("naive_leaked_clusters"))
          .transform(QueryDef.sortSmall(_, col("split")))
      },
      s"""WITH l AS (
        |  SELECT doc_id, cluster
        |  FROM read_parquet('${Artifacts.path("ccfull_labels")}/*.parquet')
        |), a AS (
        |  SELECT doc_id, cluster,
        |    ${splitFateSql("doc_id")} AS naive_split,
        |    ${splitFateSql("cluster")} AS split
        |  FROM l
        |), lk AS (
        |  SELECT CAST(count(*) AS BIGINT) AS leaked FROM (
        |    SELECT cluster FROM a GROUP BY cluster
        |    HAVING count(DISTINCT naive_split) > 1)
        |)
        |SELECT split, count(*) AS n_docs,
        |  CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
        |  lk.leaked AS naive_leaked_clusters
        |FROM a CROSS JOIN lk GROUP BY split, lk.leaked
        |ORDER BY split""".stripMargin),

    "sample_mix" -> QueryDef.sql(
      (s, d) => Sampling.stratifiedSample(
        Tables.documents(s, d), "doc_id", "lang", mixRates)
        .select("doc_id", "lang")
        // sorted-at-rest + narrow filter: local sort, not a global one
        .sortWithinPartitions("doc_id"),
      s"""SELECT doc_id, lang FROM documents
         |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < $mixCaseSql
         |ORDER BY doc_id""".stripMargin),

    // --- temperature-reweighted mixture resampling (XLM-R/mT5's
    // p ∝ f^α): per-language copy rates derived from corpus counts at
    // α = 0.5 (rare languages upsample, the head downsamples), then a
    // DETERMINISTIC repeat-sample — floor(r) whole copies + one more
    // iff the doc's md5 prefix falls under frac(r)'s 6-hex-digit
    // threshold. Map-side + explode, no shuffle; expectation exactly
    // r copies per doc; a doc's fate is a pure function of its id.
    // Oracle replays the identical integer/string comparisons with
    // the recorded rates as literals. ---
    "sample_temperature" -> QueryDef.sql(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val rates = Artifacts.get(TempRates, d)(_ =>
          Sampling.temperatureRates(docs, "lang", alpha = 0.5))
        // null-stratum rows are dropped on BOTH sides: the oracle's
        // inner join on lang never matches NULL, and repeatSample's
        // default branch would otherwise emit them with one copy
        Sampling.repeatSample(docs.filter(col("lang").isNotNull),
            "doc_id", "lang", rates)
          .select("doc_id", "lang", "copy")
          .sortWithinPartitions("doc_id", "copy")
      }, {
        val rates = Artifacts.peek[Map[String, Double]](TempRates)
          .getOrElse(Map.empty)
        val rows = rates.toSeq.sorted.map { case (l, r) =>
          s"('$l', ${math.floor(r).toLong}, '${Sampling.fracHex6(r)}')"
        }.mkString(", ")
        // static series join (DuckDB 1.0 has no lateral
        // generate_series over a column): the bound is the largest
        // possible copy count, floor(max rate) + 1
        val maxCopies = rates.values.map(r => math.floor(r).toLong + 1)
          .foldLeft(1L)(math.max)
        s"""WITH p(lang, whole, thr) AS (VALUES $rows),
           |c AS (
           |  SELECT d.doc_id, d.lang,
           |    p.whole + CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)
           |                        < p.thr THEN 1 ELSE 0 END AS copies
           |  FROM documents d JOIN p ON d.lang = p.lang),
           |series AS (
           |  SELECT CAST(unnest(generate_series(1, $maxCopies)) AS BIGINT) AS copy)
           |SELECT c.doc_id, c.lang, s.copy
           |FROM c JOIN series s ON s.copy <= c.copies
           |ORDER BY c.doc_id, s.copy""".stripMargin
      }),

    // --- token-budget curation (the terminal pipeline step): each
    // stratum's budget fills with a deterministic hash-ordered prefix
    // of its docs — keep while the stratum's running weight BEFORE
    // the doc is under budget (fills to >= budget, overshoot <= one
    // doc; a doc's fate is a pure function of corpus + budgets).
    // Strata outside the budget map drop ('es' here — the contract's
    // negative case). Runs on the per-group scalable PrefixSum (range
    // buckets + bounded driver statistic), never a
    // PARTITION-BY-stratum window — the oracle replays with exactly
    // that window, which is the correctness-equivalent DuckDB can
    // afford single-node. ---
    "sample_budget" -> QueryDef.sql(
      (s, d) => Sampling.budgetSelect(Tables.documents(s, d),
          "doc_id", "lang", col("n_chars"), budgetMap)
        .select("doc_id", "lang", "cum_before")
        .sortWithinPartitions("doc_id"),
      s"""WITH pri AS (
         |  SELECT doc_id, lang, n_chars,
         |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) ||
         |      lpad(CAST(doc_id AS VARCHAR), 20, '0') AS pri
         |  FROM documents WHERE lang IN ($budgetLangsSql)
         |), cum AS (
         |  SELECT doc_id, lang,
         |    CAST(coalesce(sum(n_chars) OVER (PARTITION BY lang ORDER BY pri
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_before
         |  FROM pri)
         |SELECT doc_id, lang, cum_before FROM cum
         |WHERE cum_before < $budgetCaseSql
         |ORDER BY doc_id""".stripMargin),

    // --- sequence packing (training-batch assembly): docs are
    // concatenated in doc_id order into one token stream and cut into
    // fixed 512-token context windows — the concat-and-chop packing
    // GPT-style pipelines use. Per doc: its start offset in the
    // stream (exclusive prefix sum via the scalable PrefixSum
    // primitive — bucketed two-phase scan, no global single-task
    // window), the window it lands in, its offset there, and how many
    // window boundaries it crosses. Integer arithmetic only (div/mod
    // on BIGINT), so both engines agree bit-exactly. ---
    "pack_sequences" -> QueryDef.sql(
      (s, d) => {
        val ctx = 512
        val toks = Tables.documents(s, d).select(col("doc_id"),
          TextOps.bpeishTokenCount(col("text")).cast("long").as("n_tokens"))
        graft.operators.PrefixSum.exclusive(toks, "doc_id", col("n_tokens"),
            buckets = 32, outCol = "start_tok")
          .select(col("doc_id"), col("n_tokens"), col("start_tok"),
            expr(s"start_tok div $ctx").as("seq_id"),
            (col("start_tok") % ctx).as("seq_off"),
            when(col("n_tokens") === 0, lit(0L)).otherwise(
              expr(s"(start_tok + n_tokens - 1) div $ctx - start_tok div $ctx"))
              .as("n_splits"))
          // PrefixSum's contract: range-partitioned + key-sorted —
          // local sort pins the order without a second range shuffle
          .sortWithinPartitions("doc_id")
      },
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(lower(text), '${TextOps.bpeishPattern}')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |cum AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS start_tok
         |  FROM toks)
         |SELECT doc_id, n_tokens, start_tok,
         |  start_tok // 512 AS seq_id,
         |  start_tok % 512 AS seq_off,
         |  CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
         |    ELSE (start_tok + n_tokens - 1) // 512 - start_tok // 512 END AS n_splits
         |FROM cum ORDER BY doc_id""".stripMargin),

    // --- TOKENIZER-AWARE sequence packing: pack_sequences' concat-
    // and-chop over REAL learned-BPE token counts instead of the
    // regex stand-in — batch assembly as the training job actually
    // sees it (composes bpe_tokens' trained tokenizer with
    // pack_sequences' PrefixSum layout; window boundaries shift
    // wherever BPE and the regex disagree on a doc's length, which is
    // exactly what the composition is for). The tokenizer rides as a
    // broadcast handle inside the codegen'd count expression — the
    // counting pass is scan-speed; the only exchange is PrefixSum's
    // bucketed two-phase scan. Oracle: per-word counts from the
    // persisted vocab artifact (bpe_tokens' protocol) summed per doc,
    // then the same integer window arithmetic. ---
    "pack_sequences_bpe" -> QueryDef.sql(
      (s, d) => {
        val ctx = 512
        val tok = TextQueries.bpeTokenizerFor(s, d)
        TextQueries.bpeVocabFor(s, d)
        val toks = Tables.documents(s, d).select(col("doc_id"),
          graft.functions.BpeColumns.tokenCount(col("text"), tok)
            .cast("long").as("n_tokens"))
        graft.operators.PrefixSum.exclusive(toks, "doc_id", col("n_tokens"),
            buckets = 32, outCol = "start_tok")
          .select(col("doc_id"), col("n_tokens"), col("start_tok"),
            expr(s"start_tok div $ctx").as("seq_id"),
            (col("start_tok") % ctx).as("seq_off"),
            when(col("n_tokens") === 0, lit(0L)).otherwise(
              expr(s"(start_tok + n_tokens - 1) div $ctx - start_tok div $ctx"))
              .as("n_splits"))
          .sortWithinPartitions("doc_id")
      },
      s"""WITH ws AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         |v AS (
         |  SELECT word, n_tokens
         |  FROM read_parquet('${Artifacts.path(TextQueries.BpeVocab)}/*.parquet')),
         |toks AS (
         |  SELECT w.doc_id, CAST(sum(v.n_tokens) AS BIGINT) AS n_tokens
         |  FROM ws w JOIN v USING (word) GROUP BY w.doc_id),
         |cum AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS start_tok
         |  FROM toks)
         |SELECT doc_id, n_tokens, start_tok,
         |  start_tok // 512 AS seq_id,
         |  start_tok % 512 AS seq_off,
         |  CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
         |    ELSE (start_tok + n_tokens - 1) // 512 - start_tok // 512 END AS n_splits
         |FROM cum ORDER BY doc_id""".stripMargin),

    // --- deterministic training-shard export: the final step of a
    // pipeline — break source-locality (md5-keyed pseudo-shuffle, the
    // standard seedable global shuffle that needs no RNG state) and
    // cut the shuffled stream into shards of a fixed token budget.
    // Shard assignment is an exclusive prefix sum of token counts in
    // hash order — the scalable PrefixSum primitive again (range-
    // partitioned two-phase scan, never a one-task global window; at
    // 100 TB each shard then writes as one task, nothing serializes).
    // The md5 key carries the zero-padded doc_id as a tiebreak so the
    // walk order is total on BOTH engines even under hash collisions.
    // Output: per-shard manifest (docs, tokens) — integer arithmetic,
    // bit-exact across engines. ---
    "shuffle_export" -> QueryDef.sql(
      (s, d) => {
        val budget = 4096L
        val toks = Tables.documents(s, d).select(col("doc_id"),
          TextOps.bpeishTokenCount(col("text")).cast("long").as("n_tokens"),
          concat_ws("-", md5(col("doc_id").cast("string")),
            lpad(col("doc_id").cast("string"), 8, "0")).as("h"))
        graft.operators.PrefixSum.exclusive(toks, "h", col("n_tokens"),
            buckets = 32, outCol = "start_tok")
          .select(col("n_tokens"), expr(s"start_tok div $budget").as("shard"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
          // one row PER SHARD = total_tokens / budget — an output that
          // scales with the corpus, not a parameter-bounded statistic,
          // so sortSmall's contract says keep the global range sort
          .orderBy("shard")
      },
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(lower(text), '${TextOps.bpeishPattern}')) AS BIGINT) AS n_tokens,
         |    md5(CAST(doc_id AS VARCHAR)) || '-' ||
         |      lpad(CAST(doc_id AS VARCHAR), 8, '0') AS h
         |  FROM documents),
         |cum AS (
         |  SELECT n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY h
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
         |  FROM t)
         |SELECT start_tok // 4096 AS shard, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS tokens
         |FROM cum GROUP BY shard ORDER BY shard""".stripMargin),

    // --- per-source corpus curation rollup: the dashboard/mixture
    // planner's view of the corpus (doc counts, char/token mass,
    // language spread, mean doc length per provenance bucket). One
    // low-cardinality groupBy with full map-side partial aggregation
    // — at 100 TB this is a scan-speed pass emitting O(sources)
    // rows. Integer aggregates exact; the one mean is a single
    // rounded division on identical operands. ---
    "source_stats" -> QueryDef.sql(
      (s, d) => Tables.documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          countDistinct("lang").as("n_langs"),
          sum(TextOps.wsTokenCount(col("text")).cast("long")).as("total_tokens"),
          graft.functions.VectorOps.roundAt(
            sum("n_chars").cast("double") / count(lit(1)).cast("double"), 6)
            .as("mean_chars"))
        .transform(QueryDef.sortSmall(_, col("source"))),
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  count(DISTINCT lang) AS n_langs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  floor((CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |    *1000000 + 0.5)/1000000 AS mean_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // --- deterministic per-group uniform sample (the reproducible
    // reservoir): per source, keep the k docs with the smallest
    // md5(doc_id) — hash-rank bottom-k IS a uniform sample, and a
    // doc's fate is a pure function of its id (stable across runs,
    // partitionings, and re-ingests — the property audit pipelines
    // need that rand()-based sampling lacks). Scale shape: the
    // two-phase graft_topk_rows aggregate (per-partition k-heaps,
    // merge at k·groups rows) — never a per-group window over raw
    // rows, never a global sort. ---
    "group_sample" -> QueryDef.sql(
      (s, d) => {
        val h = md5(col("doc_id").cast("string"))
        val sortStruct = struct(h.as("h"), col("doc_id").as("id"))
        Tables.documents(s, d)
          .groupBy("source")
          .agg(call_function("graft_topk_rows", sortStruct, lit(5)).as("top"))
          .select(col("source"), posexplode(col("top")))
          .select(col("source"), (col("pos") + 1).cast("int").as("rk"),
            col("col.id").as("doc_id"), col("col.h").as("h"))
          .transform(QueryDef.sortSmall(_, col("source"), col("rk")))
      },
      """SELECT source, rk, doc_id, h FROM (
        |  SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rk
        |  FROM documents)
        |WHERE rk <= 5 ORDER BY source, rk""".stripMargin)
  )
}
