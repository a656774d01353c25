package graft.sources

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Read-only planning diagnostics exposed to tools, fixtures and tests
  * (the scan internals stay `private[sources]`).
  *
  * What one scan pruned is read from the plan that ran it: [[scans]]
  * walks a Dataset's executed plan and reports each graft snapshot scan
  * with its own counts, so concurrent queries never see each other's.
  * The remaining JVM-wide counters only ever increase and count work
  * across scans (footer opens, Bloom cache misses); readers diff them
  * around the work they measure. */
object SnapshotScanProbe {

  /** One graft snapshot scan of an executed plan. `exec` carries the
    * DSv2 scan and its SQL metrics; the counts are what this scan itself
    * pruned beyond the stats: whole files by a pushed filter that
    * contradicts a table CHECK constraint, files by partition path
    * (both at planning), and row groups by a join-driven runtime IN
    * filter (once the scan's partitions were planned). All 0 for a
    * pushed metadata aggregate. */
  final case class ScanReport(
      exec: BatchScanExec,
      constraintPrunedFiles: Int,
      partitionPrunedFiles: Int,
      runtimePrunedGroups: Int) {
    def description: String = exec.scan.description()
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** The graft snapshot scans of the plan `ds` executes, in plan order,
    * descending through adaptive query stages. Call it after
    * `ds.collect()`: `count()` and `head()` plan a new execution whose
    * scan (and runtime filter) this Dataset's plan does not hold. */
  def scans(ds: Dataset[_]): Seq[ScanReport] =
    Plans.collect(ds.queryExecution.executedPlan) { case b: BatchScanExec => b }
      .flatMap { b =>
        b.scan match {
          case s: SnapshotScan =>
            Some(ScanReport(b, s.constraintPrunedFiles, s.partitionPrunedFiles,
              s.runtimePrunedGroups))
          case _: SnapshotAggScan => Some(ScanReport(b, 0, 0, 0))
          case _                  => None
        }
      }

  /** Cumulative data-file footer opens performed by driver-side
    * planning since JVM start (0 delta per query = sidecar-planned);
    * counted where [[graft.store.FileStats.entries]] harvests a file its
    * sidecar lacks. */
  def plannerFooterReads: Long = graft.store.FileStats.plannerFooterReads.get()

  /** Bloom filters deserialized on the DRIVER since JVM start (per
    * probed column, once — LRU-cached); the distributed probe path
    * never moves it. */
  def bloomEntriesDeserialized: Long = SnapshotScan.bloomEntriesDeserialized.get()

  /** Probe values evaluated by the DISTRIBUTED bloom path (column
    * shards above spark.graft.bloom.driverBytesMax). */
  def bloomDistributedProbes: Long = SnapshotScan.bloomDistributedProbes.get()

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
