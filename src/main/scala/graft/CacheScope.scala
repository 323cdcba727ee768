package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Session-lifetime cache hygiene for operator-internal persists.
  *
  * Operators that scan an intermediate frame multiple times (shingle
  * tables in `dedup.Dedup`, the offset catalog in
  * `operators.PrefixSum`) persist it so the expensive subtree runs
  * once. The frame, however, outlives the query: a long-lived session
  * (bench loop, notebook, service) that never unpersists accumulates
  * MEMORY_AND_DISK partitions until executor storage churns — the
  * cross-query cache-pressure whiplash observed in rounds 2–3.
  *
  * The fix is scoped tracking: operators register every internal
  * persist here instead of calling `.persist()` directly, and the
  * harness (Bench/Verify, or any caller via `withScope`) releases all
  * of them once the query's action completes. Unpersist is non-blocking
  * — eviction proceeds asynchronously while the next query plans.
  */
object CacheScope {

  // Per-thread tracking: operators register persists while PLANNING
  // on the caller's thread, so a thread-local queue scopes each
  // session/query correctly even when several sessions plan
  // concurrently in one JVM — one thread's releaseAll can never drop
  // another's live caches.
  private val tracked = ThreadLocal.withInitial(
    () => new ConcurrentLinkedQueue[DataFrame]())

  /** Persist `df` (idempotent) and register it for release at the end
    * of the current query scope. */
  def track(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val c = df.persist(level)
    tracked.get().add(c)
    c
  }

  // Deferred cleanups for non-persist resources (localCheckpoint RDD
  // blocks) — same scoping rules as `tracked`.
  private val deferred = ThreadLocal.withInitial(
    () => new ConcurrentLinkedQueue[() => Unit]())

  /** Eagerly checkpoint `df` — materializing it NOW and replacing
    * its logical plan with a LogicalRDD leaf — and register the
    * checkpoint blocks for release at scope end.
    *
    * Use where a SMALL intermediate frame is referenced many times by
    * the downstream plan: `persist` shares the *computation* but not
    * the *lineage*, so a frame whose subtree is expensive to ANALYZE
    * (a multi-stage candidate pipeline) still rides into every
    * consumer's logical tree once per reference, and Catalyst
    * re-analyzes the whole blown-up tree on every action
    * (dedup_clusters_incremental's merge plan was 32k nodes /
    * 3282 Exchange occurrences before checkpointing its O(batch) edge
    * sliver — analysis alone dominated the query).
    *
    * Fault-tolerance trade (local default): `localCheckpoint` blocks
    * are NON-REPLICATED executor memory/disk — on a cluster, losing
    * an executor mid-query kills the job instead of recomputing.
    * Acceptable for O(batch) intermediates a failed query simply
    * re-runs; a cluster deployment that cannot accept that sets
    * `spark.graft.checkpoint.reliable=true` (plus a
    * `SparkContext.setCheckpointDir`) and gets a RELIABLE checkpoint
    * through the same call: blocks ride the durable checkpoint dir,
    * executor loss degrades to a file re-read, and cleanup is the
    * cluster's (`spark.cleaner.referenceTracking.cleanCheckpoints`
    * or the checkpoint dir's retention policy), not scope end.
    *
    * Scope contract (local path): the returned frame is DEAD after
    * `releaseAll()` — lineage was truncated to the released blocks,
    * so any later action on it fails unrecoverably instead of
    * recomputing (unlike `track`, whose frames silently rebuild).
    * Only hand the frame to consumers that finish inside the scope. */
  def trackCheckpoint(df: DataFrame): DataFrame = {
    val ss = df.sparkSession
    val reliable = ss.conf.get("spark.graft.checkpoint.reliable", "false")
      .toBoolean
    // a deployment that asked for durable checkpoints must not get
    // non-replicated local blocks instead
    if (reliable && ss.sparkContext.getCheckpointDir.isEmpty)
      throw new IllegalStateException(
        "spark.graft.checkpoint.reliable=true needs a checkpoint dir: " +
          "call SparkContext.setCheckpointDir first")
    if (reliable) df.checkpoint(true)
    else {
      val c = df.localCheckpoint(true)
      deferred.get().add(() => c.queryExecution.analyzed.foreach {
        case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
        case _ => ()
      })
      c
    }
  }

  /** Release every cache registered on this thread since the last
    * call. Safe to call when nothing is tracked; safe to call twice. */
  def releaseAll(): Unit = {
    val q = tracked.get()
    var d = q.poll()
    while (d != null) {
      d.unpersist(blocking = false)
      d = q.poll()
    }
    val dq = deferred.get()
    var f = dq.poll()
    while (f != null) {
      f()
      f = dq.poll()
    }
  }

  /** Run `body`, then release all caches it registered — even on
    * failure. The unit of scoping is "one query, one action". */
  def withScope[T](body: => T): T =
    try body finally releaseAll()
}
