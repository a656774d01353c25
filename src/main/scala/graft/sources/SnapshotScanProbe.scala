package graft.sources

/** Read-only planning diagnostics exposed to tools/benchmarks (the
  * scan internals stay `private[sources]`). */
object SnapshotScanProbe {
  /** Cumulative data-file footer opens performed by driver-side
    * planning since JVM start (0 delta per query = sidecar-planned). */
  def plannerFooterReads: Long = SnapshotScan.plannerFooterReads.get()

  /** Row groups the most recent join-driven runtime filter dropped
    * beyond static pruning (dynamic file pruning diagnostics). */
  def lastRuntimePrunedGroups: Long = SnapshotScan.lastRuntimePrunedGroups.get()

  /** Zero the gauge before a measured query (it is set-per-scan, not
    * accumulated). */
  def resetRuntimePrunedGroups(): Unit = SnapshotScan.lastRuntimePrunedGroups.set(0)

  /** Files the most recent partition-transform pruning dropped from
    * pushed predicates BEFORE any stats sidecar / footer was consulted
    * (set per scan planning, not accumulated). */
  def lastPartitionPrunedFiles: Long = SnapshotScan.lastPartitionPrunedFiles.get()
  def resetPartitionPrunedFiles(): Unit = SnapshotScan.lastPartitionPrunedFiles.set(0)

  /** Bloom filters deserialized on the DRIVER since JVM start (per
    * probed column, once — LRU-cached); the distributed probe path
    * never moves it. */
  def bloomEntriesDeserialized: Long = SnapshotScan.bloomEntriesDeserialized.get()

  /** Probe values evaluated by the DISTRIBUTED bloom path (column
    * shards above spark.graft.bloom.driverBytesMax). */
  def bloomDistributedProbes: Long = SnapshotScan.bloomDistributedProbes.get()

  /** Deletion-vector lookups built EXECUTOR-side since JVM start (the
    * task-side path above spark.graft.dv.driverBytesMax). */
  def dvTaskSideBuilds: Long = TaskSideDvResolver.taskSideBuilds.get()

  /** Files the most recent scan planning dropped because a pushed
    * filter provably CONTRADICTS a table CHECK constraint (set per
    * scan, not accumulated). */
  def lastConstraintPrunedFiles: Long = SnapshotScan.lastConstraintPrunedFiles.get()
  def resetConstraintPrunedFiles(): Unit = SnapshotScan.lastConstraintPrunedFiles.set(0)

  /** MV-rewrite probe: the `(tablePath, pinned manifest)` of a plain
    * snapshot batch scan (None for change feeds, row-level group scans,
    * and non-snapshot scans) — lets [[graft.plans.AggMvRewriteRule]]
    * recognize snapshot-table scans without reaching into
    * `private[sources]` internals. */
  def rewriteTarget(scan: org.apache.spark.sql.connector.read.Scan)
      : Option[(String, graft.store.SnapshotStore.Manifest)] =
    scan match {
      case s: SnapshotScan => s.rewriteTarget
      case _               => None
    }

  /** Same probe at the TABLE level — what the rewrite rule sees, since
    * it runs before V2 scan conversion. */
  def rewriteTarget(table: org.apache.spark.sql.connector.catalog.Table)
      : Option[(String, graft.store.SnapshotStore.Manifest)] =
    table match {
      case t: SnapshotTable => t.rewriteTarget
      case _                => None
    }

  /** The shared exact-where-possible value ordering (integral pairs as
    * longs, UTF-8 byte order for strings, IEEE-normalized floats) —
    * exposed for [[graft.store.TableChecks]]'s interval logic so the
    * constraint pruner and the stats pruner can never disagree. */
  def cmpValues(a: Any, b: Any): Option[Int] = SnapshotScan.cmpAny(a, b)
}
