package graft.queries

/** Which dataset oracle-SQL thunks resolve their persisted artifacts
  * against. Some oracles interpolate the path of an artifact their
  * build wrote (split_by_cluster's label table); artifacts are kept
  * PER DATASET (`Artifacts`), so in a JVM that has built several
  * datasets the thunk needs to know which dataset's artifact the
  * consumer is about to replay. Oracle CONSUMERS (Verify, fuzz/parity
  * harnesses) set this explicitly before reading
  * `SparkEntry.oracleSql`; when unset, thunks fall back to the last
  * dataset a build used (the one-dataset-per-JVM contract Verify's
  * driver run satisfies).
  * Keying resolution on the consumer's declared dataset — not on
  * build order — means a multi-dataset JVM can never interpolate
  * another dataset's artifact path by accident. */
object OracleDataset {
  private val ref =
    new java.util.concurrent.atomic.AtomicReference[String](null)
  def set(d: String): Unit = ref.set(d)
  def current: Option[String] = Option(ref.get)
}
