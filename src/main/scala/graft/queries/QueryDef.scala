package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One coverage-checklist entry (SURVEY.md §2): a Spark-side builder
  * plus, when SQL-expressible, the equivalent DuckDB oracle SQL the
  * driver hash-compares against. Column names/aliases MUST match the
  * Spark output exactly; double aggregates are rounded identically on
  * both sides; every query carries a deterministic ORDER BY.
  */
final case class QueryDef(
    build: (SparkSession, String) => DataFrame,
    // by-name thunk, resolved at READ time: some oracles interpolate
    // artifact paths (dedup_simhash's signature table), so a consumer
    // that snapshots oracle strings after running the builds sees the
    // dataset the builds used, not a defs-construction-time default
    oracleThunk: Option[() => String] = None,
    // verdict over the build's OWN output, for oracles that check an
    // approximate operator (sketch bounds, ANN recall): the gate adds
    // the exact side and emits the verdict row the oracle answers.
    // Bench times `build`; Verify checks gate(build) — one build path.
    gate: Option[(SparkSession, String, DataFrame) => DataFrame] = None) {
  def oracle: Option[String] = oracleThunk.map(_())

  /** What the oracle checks: the gate over the build, else the build. */
  def checked(s: SparkSession, d: String): DataFrame = {
    val df = build(s, d)
    gate.fold(df)(_(s, d, df))
  }
}

object QueryDef {
  def sql(b: (SparkSession, String) => DataFrame, o: => String): QueryDef =
    QueryDef(b, Some(() => o))
  def gated(b: (SparkSession, String) => DataFrame, o: => String,
      gate: (SparkSession, String, DataFrame) => DataFrame): QueryDef =
    QueryDef(b, Some(() => o), Some(gate))
  def rowsOnly(b: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(b, None)

  /** Full-parallelism guard for compute-heavy map stages: the driver's
    * test parquet is ONE row group, so an expensive per-row stage fed
    * straight from the scan runs in a single task regardless of
    * cluster size — shuffle the (cheap) raw rows first. The same
    * guard an under-split or skewed source needs at 100 TB. */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt)

  /** DuckDB replay of VectorOps.cosineFast over two 64-dim embedding
    * column refs (e.g. `"e.embedding"`, `"q.q_emb"`): cast each
    * element to double, products and strict left-to-right sums in
    * double, floor-rounded at 6 dp — the engine-stable cosine every
    * embedding oracle compares on. ONE definition: a drift in dims,
    * rounding or cast order is an oracle-wide change, never a
    * per-query one. NaN policy is the CALLER's: wrap in
    * `NOT isnan(...)` where undefined similarity must not match. */
  def cosSql(a: String, b: String): String =
    s"""floor((
       |      list_sum(list_transform(range(1, 65),
       |        i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       |      / (sqrt(list_sum(list_transform(range(1, 65),
       |           i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
       |       * sqrt(list_sum(list_transform(range(1, 65),
       |           i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))))
       |      *1000000 + 0.5)/1000000""".stripMargin

  /** DuckDB replay of operators.ExactQuantiles.values — bit-identical
    * by construction. `round(quantile_cont(...), k)` is NOT usable as
    * an oracle for it: DuckDB's internal interpolation differs from
    * `lo + (hi-lo)*frac` in the last ulp (measured ~37% of random
    * draws), and DuckDB's round() vs BigDecimal HALF_UP disagree on
    * decimal ties (~22% when values are 2-dp money). So the oracle
    * replays the exact computation instead: rank-select the two
    * neighbor VALUES (actual stored doubles — identical on both
    * engines), interpolate with the same expression shape and operand
    * order (IEEE doubles are deterministic), floor-quantize with the
    * repo-wide floor(x*s+0.5)/s rule. Returns a scalar subquery
    * emitting one row with one DOUBLE column per (prob, name).
    *
    * `probLit` must print the EXACT Scala double literal: probs are
    * passed through "%.17g"-free toString, which round-trips, and
    * DuckDB parses decimal literals to nearest-double the same way
    * scalac does. */
  def exactQuantileSql(table: String, column: String,
      probs: Seq[(Double, String)], scale: Int = 4): String = {
    val s = math.pow(10, scale)
    def t(p: Double) = s"((n - 1) * CAST(${p} AS DOUBLE))"
    def pick(rank: String) =
      s"max(CASE WHEN r = CAST($rank AS BIGINT) THEN v END)"
    val cols = probs.map { case (p, nm) =>
      val lo = pick(s"floor(${t(p)})")
      val hi = pick(s"ceil(${t(p)})")
      // v = lo + (hi - lo) * (t - floor(t)); rounded = floor(v*s+0.5)/s
      s"""floor((($lo + ($hi - $lo) * (${t(p)} - floor(${t(p)}))))
         |      * ${s} + 0.5) / ${s} AS $nm""".stripMargin
    }.mkString(",\n    ")
    s"""SELECT
       |    $cols
       |  FROM (
       |    SELECT v, row_number() OVER (ORDER BY v) - 1 AS r,
       |      count(*) OVER () AS n
       |    FROM (SELECT CAST($column AS DOUBLE) AS v FROM $table
       |          WHERE $column IS NOT NULL))
       |  GROUP BY n""".stripMargin
  }

  /** Materialization barrier for the deterministic ORDER BY on a
    * MAP-ONLY result: orderBy is a range exchange whose
    * boundary-sampling job re-executes the child, and a map-only
    * child has no shuffle files to reuse — so an expensive per-row
    * stage (regex chain, codec, dictionary scan) would run TWICE.
    * Caching the (small) result lets the sample and the sort share
    * one execution; CacheScope releases it when the query's action
    * completes. Aggregated/joined children don't need this — their
    * own exchange is the reusable barrier. */
  def sortBarrier(df: DataFrame): DataFrame =
    graft.CacheScope.track(df)

  /** Deterministic total order for a STATISTIC-BOUNDED result table
    * (histogram bins, rollup cells, per-source stats, model weights —
    * outputs whose cardinality is fixed by a parameter, not by the
    * input size). `orderBy` on such a result plans a range exchange
    * whose boundary-sampling job is a whole extra serial wave
    * (measured: ~0.2 s per query at local[32] regardless of result
    * size); a single-task local sort produces the identical total
    * order without the exchange or the sampling pass, and stays the
    * right shape at 100 TB because the RESULT stays small even when
    * the input does not (the parallel work — scans, partial
    * aggregates — is upstream and unaffected). Row-per-input outputs
    * (catalogs, per-doc tables) must keep the global orderBy: their
    * results scale with the data and need the range sort. */
  def sortSmall(df: DataFrame, cols: org.apache.spark.sql.Column*): DataFrame =
    df.coalesce(1).sortWithinPartitions(cols: _*)
}
