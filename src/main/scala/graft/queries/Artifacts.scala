package graft.queries

import java.io.File

/** Precomputed per-dataset state behind the queries: at-rest table
  * layouts, trained quantizers and codebooks, table statistics, blob
  * fixtures. In production these are maintained beside the data
  * (rebuilt at ingest); here each is built on first use and reused by
  * every later query on the same inputs.
  *
  * An artifact is keyed by (name, dataset dir, fingerprint). The name
  * encodes the artifact's parameters (`ivf16`, `pq_m8k256`), so two
  * queries that ask for the same name share one build. The
  * fingerprint is the (file name, size, mtime) list of ONE listing of
  * the dataset dir: a dataset regenerated in place changes it, and
  * the next `get` rebuilds instead of serving stale statistics.
  * Content is not hashed — a same-size rewrite within one mtime tick
  * goes unseen.
  *
  * Persisted artifacts live under a pid-scoped temp path: two graft
  * JVMs (a Verify beside a Bench) never write each other's files, and
  * each process interpolates its OWN paths into its oracle SQL. The
  * files outlive the process for a later DuckDB replay of that SQL.
  */
object Artifacts {
  private val pid = ProcessHandle.current().pid()

  /** Best-effort sweep of artifact dirs left by DEAD graft processes —
    * pid-scoped paths fix the concurrent-overwrite race but would
    * otherwise accumulate a fresh copy of every artifact per process
    * with no cleanup. Runs once per JVM, first path call: any
    * `graft_*_<pid>_<hash>` entry whose pid is dead AND whose content
    * hasn't changed for `SweepAgeMs` is deleted. The age guard
    * protects the baseline-replay protocol: oracle_sql.json
    * interpolates artifact paths that DuckDB replays MINUTES after the
    * writing JVM exits (dedup_simhash signature table), so a
    * same-round replay must survive an interleaved Bench JVM's sweep;
    * hours-old debris from previous rounds goes. Failures are
    * ignored — the next process sweeps again. */
  private val SweepAgeMs = 3L * 3600 * 1000

  private lazy val sweep: Unit = {
    val tmp = new File(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    val stale = "^graft_.*_([0-9]+)_[0-9a-f]+$".r
    val cutoff = System.currentTimeMillis() - SweepAgeMs
    Option(tmp.listFiles()).getOrElse(Array.empty).foreach { f =>
      f.getName match {
        case stale(p) if p.toLong != pid && f.lastModified() < cutoff &&
            !ProcessHandle.of(p.toLong).map[Boolean](_.isAlive).orElse(false) =>
          try delete(f) catch { case _: Exception => }
        case _ =>
      }
    }
  }

  private def delete(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(delete)
    f.delete()
  }

  private type Fingerprint = Seq[(String, Long, Long)]

  private def fingerprint(dataset: String): Fingerprint =
    Option(new File(dataset).listFiles()).getOrElse(Array.empty[File])
      .map(f => (f.getName, f.length(), f.lastModified())).sortBy(_._1).toSeq

  /** One built (or building) artifact. The build runs under the
    * entry's own lock, outside the registry map, so an artifact may
    * fetch other artifacts while it builds; a failed build leaves the
    * entry empty and the next `get` retries it. */
  private final class Entry(val fingerprint: Fingerprint) {
    @volatile private var built: Option[Any] = None
    def value(build: => Any): Any = synchronized {
      if (built.isEmpty) built = Some(build)
      built.get
    }
    def peek: Option[Any] = built
  }

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Entry]()
  private val lastDataset =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** The artifact `name` of `dataset`, built by `build` (which gets
    * the artifact's persist path) once per JVM and fingerprint. */
  def get[T](name: String, dataset: String)(build: String => T): T = {
    val p = path(name, dataset)
    val fp = fingerprint(dataset)
    entries.compute((name, dataset), (_, old) =>
      if (old != null && old.fingerprint == fp) old else new Entry(fp))
      .value(build(p)).asInstanceOf[T]
  }

  /** `<tmpdir>/graft_<name>_<pid>_<datasetHash>` — stable within a
    * process, disjoint across processes. Also the path of a per-call
    * table a build rewrites on every execution. */
  def path(name: String, dataset: String): String = {
    lastDataset.set(dataset)
    tmpPath(name, dataset)
  }

  /** The dataset oracle thunks resolve against: the consumer's declared
    * dataset (OracleDataset), else the last dataset a build used. */
  private def oracleDataset: String =
    OracleDataset.current.orElse(Option(lastDataset.get)).getOrElse("")

  /** Oracle-side path of artifact `name` — see `oracleDataset`. */
  def path(name: String): String = tmpPath(name, oracleDataset)

  /** Oracle-side VALUE of artifact `name` when it is built for the
    * oracle dataset's current fingerprint; never builds. */
  private[queries] def peek[T](name: String): Option[T] = {
    val d = oracleDataset
    Option(entries.get((name, d))).filter(_.fingerprint == fingerprint(d))
      .flatMap(_.peek).map(_.asInstanceOf[T])
  }

  private def tmpPath(name: String, dataset: String): String = {
    require(name.matches("[A-Za-z0-9_.]+"), s"artifact name '$name'")
    sweep
    sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft_" + name +
      "_" + pid + "_" + Integer.toHexString(dataset.hashCode)
  }
}
