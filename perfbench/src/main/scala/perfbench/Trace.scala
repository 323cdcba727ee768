package perfbench

import scala.collection.mutable

import org.apache.spark.{ListenerBusAccess, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at a layer boundary. Times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Double, var end: Double)

/** Counts read off one executed physical plan. */
final case class PlanCounts(exchanges: Int, smj: Int, bhj: Int,
    cachedScans: Int, nativeExprs: Int) {
  def +(o: PlanCounts): PlanCounts = PlanCounts(exchanges + o.exchanges,
    smj + o.smj, bhj + o.bhj, cachedScans + o.cachedScans,
    nativeExprs + o.nativeExprs)
}

object PlanCounts {
  val zero: PlanCounts = PlanCounts(0, 0, 0, 0, 0)

  /** Every operator of an executed plan, looking through adaptive
    * plans and query stages (a cached scan is a leaf). */
  def operators(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case s: QueryStageExec => operators(s.plan)
    case other =>
      val inner = other.innerChildren.collect { case c: SparkPlan => c }
      other +: (other.children ++ inner ++ other.subqueries).flatMap(operators)
  }

  def of(plan: SparkPlan): PlanCounts = {
    val ops = operators(plan)
    val native = ops.map(_.expressions.map(_.collect {
      case e if e.getClass.getName.startsWith("graft.functions.expressions") => e
    }.size).sum).sum
    PlanCounts(
      ops.count(_.isInstanceOf[ShuffleExchangeLike]),
      ops.count(_.isInstanceOf[SortMergeJoinExec]),
      ops.count(_.isInstanceOf[BroadcastHashJoinExec]),
      ops.count(_.isInstanceOf[InMemoryTableScanExec]),
      native)
  }
}

/** Per-stage task aggregates. */
final class StageRec {
  var submitted = 0.0
  var completed = 0.0
  var tasks = 0
  var busyMs = 0.0
  var gcMs = 0.0
  var readBytes = 0.0
  var writeBytes = 0.0
  var spillBytes = 0.0
  val durations = mutable.ArrayBuffer.empty[Double]
}

/** The benchmark's tracer: spans recorded by the harness around each
  * pass, query, build, action and module call, plus jobs and stages
  * from a Spark listener linked to those spans by job group, plus the
  * executed plan of every action. Everything stays in memory until
  * [[Tracer.json]] renders it at the end of the run.
  *
  * While `enabled` is false the listeners return at once and no job
  * group is set, so untraced passes measure the program alone.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  @volatile var enabled = false
  private val sc: SparkContext = spark.sparkContext
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  private def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  @volatile private var current = -1

  // listener-side state, written on the listener bus thread
  private val jobSpan = mutable.Map.empty[Int, Int]        // job -> span
  private val jobTimes = mutable.Map.empty[Int, (Double, Double)]
  private val stageJob = mutable.Map.empty[Int, Int]       // stage -> job
  private val stages = mutable.Map.empty[(Int, Int), StageRec] // (stage, attempt)
  private val plans = mutable.Map.empty[Int, PlanCounts]       // span -> counts

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  private val GroupPrefix = "perfbench-"

  /** Opens a span under the innermost open one; while tracing, jobs
    * started inside it carry its id as their job group. */
  def span[T](kind: String, name: String)(body: => T): T = {
    val id = spans.size
    spans += Span(id, stack.headOption.getOrElse(-1), kind, name, nowMs, 0.0)
    stack = id :: stack
    val prev = current
    if (enabled) {
      current = id
      sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
    }
    try body
    finally {
      if (enabled) {
        // plans arrive on the listener bus: let them land while this
        // span is still the current one
        ListenerBusAccess.drain(sc)
        current = prev
        if (prev >= 0) sc.setJobGroup(GroupPrefix + prev, spans(prev).name,
          interruptOnCancel = false)
        else sc.clearJobGroup()
      }
      spans(id).end = nowMs
      stack = stack.tail
    }
  }

  /** The ids of `root` and every span below it. */
  def subtree(root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Seq[Int] =
      id +: kids.get(id).toSeq.flatMap(_.toSeq).flatMap(s => go(s.id))
    go(root).toSet
  }

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(GroupPrefix)).map(_.drop(GroupPrefix.length).toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    spanOf(e.properties).foreach { s =>
      jobSpan(e.jobId) = s
      jobTimes(e.jobId) = (e.time.toDouble, e.time.toDouble)
      e.stageIds.foreach(st => if (!stageJob.contains(st)) stageJob(st) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTimes.get(e.jobId).foreach { case (s, _) => jobTimes(e.jobId) = (s, e.time.toDouble) }
  }

  private def stage(id: Int, attempt: Int): Option[StageRec] =
    if (stageJob.contains(id)) Some(stages.getOrElseUpdate((id, attempt), new StageRec))
    else None

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stage(i.stageId, i.attemptNumber()).foreach { r =>
      r.submitted = i.submissionTime.getOrElse(0L).toDouble
      r.completed = i.completionTime.getOrElse(0L).toDouble
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stage(e.stageId, e.stageAttemptId).foreach { r =>
      r.tasks += 1
      r.durations += e.taskInfo.duration.toDouble
      r.busyMs += e.taskInfo.duration.toDouble
      Option(e.taskMetrics).foreach { m =>
        r.gcMs += m.jvmGCTime
        r.readBytes += m.shuffleReadMetrics.totalBytesRead
        r.writeBytes += m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (enabled && current >= 0) synchronized {
      val c = try PlanCounts.of(qe.executedPlan) catch { case _: Exception => PlanCounts.zero }
      plans(current) = plans.getOrElse(current, PlanCounts.zero) + c
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Engine and plan metrics over every job started under `root`. */
  def engineMetrics(root: Int, cores: Int): Map[String, Double] = synchronized {
    val ids = subtree(root)
    val jobs = jobSpan.collect { case (j, s) if ids(s) => j }.toSet
    val recs = stages.collect { case ((st, _), r) if jobs(stageJob(st)) => r }.toSeq
    val wallMs = recs.map(r => (r.completed - r.submitted).max(0.0)).sum
    val busy = recs.map(_.busyMs).sum
    val skewed = recs.filter(_.durations.size >= 2)
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val plan = ids.toSeq.flatMap(plans.get).foldLeft(PlanCounts.zero)(_ + _)
    Map(
      "engine.jobs" -> jobs.size.toDouble,
      "engine.stages" -> recs.size.toDouble,
      "engine.tasks" -> recs.map(_.tasks).sum.toDouble,
      "engine.core_idle_frac" ->
        (if (wallMs > 0) 1.0 - busy / (wallMs * cores) else 0.0),
      "engine.task_busy_s" -> busy / 1000,
      "engine.shuffle_read_mb" -> recs.map(_.readBytes).sum / 1e6,
      "engine.shuffle_write_mb" -> recs.map(_.writeBytes).sum / 1e6,
      "engine.spill_mb" -> recs.map(_.spillBytes).sum / 1e6,
      "engine.gc_s" -> recs.map(_.gcMs).sum / 1000,
      // slowest task over median task, summed over stages with >= 2 tasks
      "engine.task_skew" ->
        (if (skewed.isEmpty) 1.0 else
          skewed.map(_.durations.max).sum / skewed.map(r => median(r.durations.toSeq).max(1.0)).sum),
      "plan.exchanges" -> plan.exchanges.toDouble,
      "plan.smj" -> plan.smj.toDouble,
      "plan.bhj" -> plan.bhj.toDouble,
      "plan.cached_scans" -> plan.cachedScans.toDouble,
      "plan.native_exprs" -> plan.nativeExprs.toDouble)
  }

  /** Self time of each module span: its duration minus the part of it
    * covered by the jobs it started. Summed per module name. */
  def moduleSelfTimes: Map[String, (Double, Double)] = synchronized {
    val byJob = jobSpan.toSeq.groupBy(_._2).map { case (s, js) =>
      s -> js.flatMap { case (j, _) => jobTimes.get(j) } }
    spans.filter(_.kind == "module").groupBy(_.name).map { case (name, ss) =>
      val total = ss.map(s => s.end - s.start).sum
      val covered = ss.map { s =>
        val ivs = subtree(s.id).toSeq.flatMap(byJob.getOrElse(_, Nil))
          .map { case (a, b) => (a.max(s.start), b.min(s.end)) }
          .filter { case (a, b) => b > a }.sortBy(_._1)
        // union of the job intervals
        ivs.foldLeft((0.0, Double.NegativeInfinity)) { case ((acc, reach), (a, b)) =>
          if (b <= reach) (acc, reach)
          else (acc + b - a.max(reach), b)
        }._1
      }.sum
      name -> (total / 1000, (total - covered) / 1000)
    }
  }

  /** Spans (harness, job and stage) plus module self times, as JSON. */
  def json(extra: Map[String, Any]): String = synchronized {
    val own = spans.map { s =>
      val base = Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end)
      plans.get(s.id).fold(base)(c => base + ("plan" -> Map(
        "exchanges" -> c.exchanges, "smj" -> c.smj, "bhj" -> c.bhj,
        "cached_scans" -> c.cachedScans, "native_exprs" -> c.nativeExprs)))
    }
    val jobs = jobSpan.toSeq.sortBy(_._1).map { case (j, s) =>
      val (a, b) = jobTimes.getOrElse(j, (0.0, 0.0))
      Map("job" -> j, "span" -> s, "start_ms" -> a, "end_ms" -> b)
    }
    val st = stages.toSeq.sortBy(_._1).map { case ((id, att), r) =>
      Map("stage" -> id, "attempt" -> att, "job" -> stageJob(id),
        "start_ms" -> r.submitted, "end_ms" -> r.completed, "tasks" -> r.tasks,
        "busy_ms" -> r.busyMs)
    }
    val self = moduleSelfTimes.map { case (k, (t, s)) =>
      k -> Map("total_s" -> t, "self_s" -> s) }
    Json.write(extra ++ Map("spans" -> own, "jobs" -> jobs, "stages" -> st,
      "module_self" -> self))
  }
}
