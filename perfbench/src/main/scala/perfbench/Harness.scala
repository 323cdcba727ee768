package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{CacheScope, GraftSession, SparkEntry}

/** One timed query execution. */
final case class QueryRun(pass: Int, name: String, buildS: Double,
    actionS: Double, error: Option[String])

/** The benchmark's JVM side: one fresh JVM per run, driving graft
  * through its public entry points.
  *
  * Usage (run.py builds the command line):
  * {{{
  * perfbench.Harness --workload W --data DIR --seed N --passes P
  *   --trace 0|1 --out DIR [--queries all|q1,q2,...]
  * }}}
  *
  * A run sets up a session and runs one trivial job (printing
  * `PERFBENCH_READY <epoch ms>`), runs one cold pass over the
  * workload's queries, [[WarmupPasses]] unmeasured passes while the JIT
  * settles, then `--passes` measured closed-loop warm passes, each pass
  * in its own seeded order. Outside the timed
  * passes it writes every query's verification result and oracle SQL
  * under `--out` for run.py's DuckDB check. With `--trace 1` it
  * alternates untraced and traced warm passes and then times each
  * module's public functions (see [[Probes]]). The last stdout line
  * is `PERFBENCH_RESULT <json>`.
  */
object Harness {

  val WarmupPasses = 1

  def session(cores: Int): SparkSession = {
    val s = GraftSession.withDefaults(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  /** Peak resident memory of this JVM so far, from /proc (Linux). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024
  }

  /** The load probe graft.Bench records: a fixed xxhash64 fold whose
    * time depends only on the machine, never on graft code. */
  def probe(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 1L << 28, 1L, cores)
      .selectExpr("sum(xxhash64(id) % 100000)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    // set-up ends once the session state (with graft's extensions) is
    // built and one trivial job has run; the first query's planning
    // and codegen belong to the cold pass
    val spark = session(cores)
    spark.sessionState
    spark.sparkContext.parallelize(Seq(1), 1).count()
    println(s"PERFBENCH_READY ${System.currentTimeMillis()}")

    Workloads.guard()
    val workload = arg(args, "--workload").get
    val data = arg(args, "--data").get
    val seed = arg(args, "--seed").get.toLong
    val passes = arg(args, "--passes").get.toInt
    val trace = arg(args, "--trace").contains("1")
    val out = arg(args, "--out").get
    val names = arg(args, "--queries") match {
      case None => Workloads.timed(workload)
      case Some("all") => Workloads.lists(workload)
      case Some(list) => list.split(",").toSeq
    }
    val tracer = new Tracer(spark)

    // ---- timed passes ------------------------------------------------
    val runs = mutable.ArrayBuffer.empty[QueryRun]
    val cacheMb = mutable.ArrayBuffer.empty[Double]
    def runQuery(pass: Int, name: String): QueryRun =
      tracer.span("query", name) {
        CacheScope.withScope {
          // both clocks stop inside their span, before the tracer's
          // listener-bus wait
          var buildS = 0.0
          try {
            val df = tracer.span("build", name) {
              val t0 = System.nanoTime()
              val df = SparkEntry.benchQueries(name)(spark, data)
              buildS = (System.nanoTime() - t0) / 1e9
              df
            }
            val actionS = tracer.span("action", name) {
              val t1 = System.nanoTime()
              df.write.format("noop").mode("overwrite").save()
              (System.nanoTime() - t1) / 1e9
            }
            // blocks the query cached, before its scope releases them
            if (tracer.enabled) cacheMb += Probes.storageMb(spark)
            QueryRun(pass, name, buildS, actionS, None)
          } catch { case e: Throwable =>
            val msg = String.valueOf(e.getMessage).takeWhile(_ != '\n').take(200)
            QueryRun(pass, name, buildS, 0.0, Some(s"${e.getClass.getSimpleName}: $msg"))
          }
        }
      }
    val passSpan = mutable.Map.empty[Int, Int]
    def passTime(p: Int): Double = {
      val sp = tracer.spans(passSpan(p))
      (sp.end - sp.start) / 1000
    }
    def runPass(pass: Int, traced: Boolean): Unit = {
      tracer.enabled = traced
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(names)
      tracer.span("pass", s"pass-$pass") {
        passSpan(pass) = tracer.spans.size - 1
        runs ++= order.map(runQuery(pass, _))
      }
      tracer.enabled = false
    }

    runPass(0, traced = false)
    val coldS = passTime(0)
    // warm pass times keep falling for ~8 passes while the JIT compiles
    // the planner and the generated code: the first WarmupPasses are run
    // but not measured, and the measured count is fixed, so every run
    // measures the same stretch of that curve and its pooled latency
    // percentiles fall on the same ranks. When tracing, every traced
    // pass sits between two untraced ones (one extra pass closes the
    // run), so the overhead is read against its own point on the curve.
    (1 to WarmupPasses).foreach(runPass(_, traced = false))
    val measured = WarmupPasses + 1 to WarmupPasses + passes + (if (trace) 1 else 0)
    def isTraced(p: Int) = trace && p % 2 == WarmupPasses % 2 && p < measured.last
    measured.foreach(p => runPass(p, traced = isTraced(p)))
    val rssMb = peakRssMb()

    // ---- verification results (outside the timed passes) ------------
    Files.createDirectories(Paths.get(out, "results"))
    val verifyErrors = mutable.LinkedHashMap.empty[String, String]
    names.foreach { n =>
      CacheScope.withScope {
        try SparkEntry.queries(n)(spark, data).write.mode("overwrite")
          .parquet(Paths.get(out, "results", n).toString)
        catch { case e: Throwable =>
          verifyErrors(n) = String.valueOf(e.getMessage).takeWhile(_ != '\n').take(200)
        }
      }
    }
    graft.queries.OracleDataset.set(data)
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }

    // ---- traced module probes ----------------------------------------
    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (trace) {
      val probes = mutable.ArrayBuffer(probe(spark, cores))
      val traced = measured.filter(isTraced)
      def med(xs: Seq[Double]) = {
        val s = xs.sorted
        (s((s.size - 1) / 2) + s(s.size / 2)) / 2
      }
      def buildTime(p: Int) = runs.filter(_.pass == p).map(_.buildS).sum
      layers("queries.build_cold_s") = buildTime(0)
      layers("queries.build_warm_s") = med(measured.filterNot(isTraced).map(buildTime))
      layers ++= tracer.engineMetrics(passSpan(traced.head), cores)
      layers("trace.warm_pass_s") = med(traced.map(passTime))
      layers("trace.overhead_s") =
        med(traced.map(p => passTime(p) - (passTime(p - 1) + passTime(p + 1)) / 2))
      layers("jvm.peak_rss_mb") = rssMb
      layers("cache.peak_mb") = if (cacheMb.isEmpty) 0.0 else cacheMb.max
      layers("cache.blocks_left") = Probes.cachedBlocks(spark).toDouble
      tracer.enabled = true
      layers ++= tracer.span("run", "module-probes") {
        new Probes(spark, data, cores, Paths.get(out, "probe").toString, tracer).all()
      }
      tracer.enabled = false
      probes += probe(spark, cores)
      layers("env.probe_s") = med(probes.toSeq)
      Files.writeString(Paths.get(out, "trace.json"),
        tracer.json(Map("workload" -> workload, "seed" -> seed, "cores" -> cores)))
    }

    val result = Map(
      "workload" -> workload,
      "cores" -> cores,
      "queries" -> names,
      "cold_pass_s" -> coldS,
      "passes" -> runs.groupBy(_.pass).toSeq.sortBy(_._1).map { case (p, rs) =>
        Map("pass" -> p, "measured" -> measured.contains(p),
          "traced" -> (measured.contains(p) && isTraced(p)),
          "seconds" -> passTime(p)) },
      "runs" -> runs.map(r => Map("pass" -> r.pass, "name" -> r.name,
        "build_s" -> r.buildS, "action_s" -> r.actionS,
        "error" -> r.error)),
      "verify_errors" -> verifyErrors,
      "oracles" -> oracles,
      "peak_rss_mb" -> rssMb,
      "layers" -> layers)
    spark.stop()
    println("PERFBENCH_RESULT " + Json.write(result))
  }
}
