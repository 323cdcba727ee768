package graft

import org.apache.spark.sql.SparkSession

/** Session factory with graft's scale-aware defaults.
  *
  * Mirrors the role of scida's dataset entry configuration
  * (reference: src/scida/config.py, src/scida/interface.py:44) — one
  * place that fixes chunking/parallelism policy — re-expressed as
  * Spark session conf: AQE on (runtime re-plan, skew-join splitting),
  * shuffle partitions sized to the local core count rather than the
  * 200 default, UTC session time zone for reproducible time semantics,
  * and nanosecond-parquet support for the events table.
  */
object GraftSession {

  /** Apply graft defaults to an existing builder (lets Verify/Bench
    * keep driver-imposed master/conf while inheriting ours).
    *
    * JVM-WIDE side effect: disables ImageIO's file-backed stream cache
    * (`ImageIO.setUseCache(false)`) — the multimodal decode loops feed
    * byte-array payloads, for which the default temp-file spooling is
    * pure overhead. The flag is a JVM-global static; any other workload
    * sharing this executor JVM also loses the file cache. Acceptable on
    * a dedicated cluster; set it back after session creation if a
    * co-tenant needs file-backed ImageIO streams. (The decode loops
    * also set it per task, defensively, for executors that never ran
    * this builder.) */
  def withDefaults(b: SparkSession.Builder): SparkSession.Builder = {
    javax.imageio.ImageIO.setUseCache(false)
    b
    .withExtensions(new GraftExtensions)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
    // reader rejects; read as epoch-nano longs and convert in Tables.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.aggregatePushdown", "true")
  }

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = withDefaults(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
