package graftbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Parsed command line of one benchmark run. */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    dataDir: String,
    workDir: String,
    pinsPath: String,
    outPath: String,
    tracePath: String)

/** One timed op: its kind, latency and the units of work it completed. */
final case class Sample(kind: String, ms: Double, work: Double)

object Harness {
  /** Scan-node SQL metrics a traced run sums: the bronze JSON files and
    * records the program reads. */
  val ScanMetrics: Map[(String, String), String] = Map(
    ("Scan json", "number of files read") -> "json_files_read",
    ("Scan json", "number of output rows") -> "json_rows_read")
}

/** Per-run state shared by the workloads: the session, the tracer, the
  * op counters and the per-layer accumulators. Every timed op goes
  * through [[op]], every call into a program layer through [[layer]]. */
final class Harness(val spark: SparkSession, val args: Args, val tracer: Tracer) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val probe: Option[SparkProbe] =
    if (args.trace) Some(new SparkProbe(Harness.ScanMetrics)) else None
  probe.foreach(spark.sparkContext.addSparkListener)

  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer.empty[String]
  /** Per-layer figures: sums unless a workload overwrites them. */
  val layerStats = mutable.LinkedHashMap.empty[String, Double]
  val moduleWallNs = mutable.HashMap.empty[String, Long]
  var heapPeakMb = 0.0
  var maxPersisted = 0
  /** Whether layer calls are instrumented right now. Traced runs measure
    * an untraced half first, for `trace.overhead_ratio`. */
  def tracing: Boolean = tracer.enabled
  /** Timed samples of the current half. */
  val samples = ArrayBuffer.empty[Sample]
  def record(kind: String, ms: Double, work: Double): Unit = samples += Sample(kind, ms, work)
  private var queriesPlanned = 0

  def add(name: String, v: Double): Unit = layerStats(name) = layerStats.getOrElse(name, 0.0) + v
  def put(name: String, v: Double): Unit = layerStats(name) = v

  /** A call into one program layer: a span, and in traced runs the job
    * group that attributes its Spark jobs to `module`. */
  def layer[T](module: String, name: String)(body: => T): T =
    if (!tracing) body
    else {
      val sc = spark.sparkContext
      val t0 = System.nanoTime()
      tracer.span(name) {
        sc.setJobGroup(module, name, interruptOnCancel = false)
        try body
        finally {
          sc.clearJobGroup()
          moduleWallNs(module) = moduleWallNs.getOrElse(module, 0L) + (System.nanoTime() - t0)
          add(name + "_s", (System.nanoTime() - t0) / 1e9)
          add(name + "_calls", 1)
        }
      }
    }

  /** One timed op: `body` is timed, then `check` tests its output
    * untimed. A throw in either, or a failed check, counts toward `failed`
    * and yields no latency sample. Cached data is released in `finally`,
    * outside the timing, so a failed op cannot leak blocks or CacheManager
    * hits into the next. */
  def op[T](name: String)(body: => T)(check: T => Boolean): Option[Double] = {
    attempted += 1
    var ms = 0.0
    val ok =
      try {
        val t0 = System.nanoTime()
        val out = tracer.span(name)(body)
        ms = (System.nanoTime() - t0) / 1e6
        check(out)
      } catch {
        case NonFatal(e) =>
          failures += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          false
      } finally release()
    if (!ok) {
      failed += 1
      if (!failures.exists(_.startsWith(name + ":"))) failures += s"$name: output check failed"
      None
    } else Some(ms)
  }

  /** Drop everything an op may have left cached. */
  def release(): Unit = {
    val sc = spark.sparkContext
    maxPersisted = math.max(maxPersisted, sc.getPersistentRDDs.size)
    graft.ops.QueryCaches.releaseAll()
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** `Dataset.count()` as `SparkEntry` callers run it, but on a plan the
    * harness holds, so traced runs can read its Catalyst phases and
    * executed plan afterwards. */
  def countRows(df: DataFrame): Long = {
    val t0 = System.nanoTime()
    val counted = df.groupBy().count()
    val n = counted.collect()(0).getLong(0)
    if (tracing) {
      add("plans.query_ms", (System.nanoTime() - t0) / 1e6)
      val s = Plans.stats(counted.queryExecution)
      add("plans.analysis_ms", s.analysisMs)
      add("plans.optimization_ms", s.optimizationMs)
      add("plans.planning_ms", s.planningMs)
      add("plans.graft_rules_ms", s.graftRulesMs)
      add("plans.kernel_sites", s.kernelSites)
      queriesPlanned += 1
    }
    n
  }

  def plannedQueries: Int = queriesPlanned

  /** Heap occupancy right after a full collection, folded into the peak.
    * Sampled after every timed unit, outside the op timings. The second
    * collection frees what the first one's reference processing released
    * (Spark's ContextCleaner drops shuffle and broadcast state on
    * weak-reference callbacks), so the sample does not depend on that
    * timing. */
  def sampleHeap(): Unit = {
    System.gc()
    Thread.sleep(50)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    heapPeakMb = math.max(heapPeakMb, used / (1024.0 * 1024.0))
  }


  def check(name: String, ok: Boolean, detail: => String): Boolean = {
    if (!ok) failures += s"$name: $detail"
    ok
  }
}
