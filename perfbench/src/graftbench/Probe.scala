package graftbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** Execution totals of a set of Spark jobs. */
final class ExecTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L

  def +=(o: ExecTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs; runMs += o.runMs
    gcMs += o.gcMs; shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes; inputBytes += o.inputBytes
  }
}

/** One SQL execution as the listener saw it: its root execution, its
  * start and end (epoch ms) and, for a file write, the output path. */
final case class SqlExec(id: Long, root: Long, startMs: Long, endMs: Long, writePath: Option[String])

/** Everything a traced run learns from Spark's listener bus.
  *
  *  - Every job is attributed to the job group the harness set around the
  *    layer call that launched it (`spark.jobGroup.id`), or, when the job
  *    belongs to a SQL execution that `relabel` maps to a module, to that
  *    module. This splits the jobs of one program call (`Pipeline.run`) by
  *    what they wrote.
  *  - SQL executions are kept with their times and, for file writes, the
  *    output path of the `InsertIntoHadoopFsRelationCommand` at the root of
  *    the executed plan (under the adaptive-plan wrapper, if any).
  *  - The SQL metrics named in `scanMetrics` — (scan node name prefix,
  *    metric name) → key — are summed over every plan that contains such a
  *    scan, from task and driver accumulator updates.
  *
  * Only jobs and executions that start at or after `fromMs` (epoch ms)
  * are kept, so a run can measure its traced half alone. Events arrive on
  * Spark's listener thread; callers read only after [[drain]]. */
final class SparkProbe(scanMetrics: Map[(String, String), String]) extends SparkListener {
  private final class Job(val group: String, val execRoot: Option[Long]) { val t = new ExecTotals }
  private val jobs = mutable.HashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val execs = mutable.LinkedHashMap.empty[Long, SqlExec]
  private val accumKey = mutable.HashMap.empty[Long, String]
  private val scanSums = mutable.HashMap.empty[String, Long]
  @volatile var fromMs: Long = Long.MaxValue
  private var started = 0L
  private var ended = 0L
  private var events = 0L

  private val WriteNode = "Execute InsertIntoHadoopFsRelationCommand"

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String): Option[String] = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val root = prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id")).map(_.toLong)
    if (e.time >= fromMs) {
      val j = new Job(prop("spark.jobGroup.id").getOrElse("none"), root)
      j.t.jobs = 1
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob.put(_, e.jobId))
    }
    started += 1
    events += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += 1; events += 1 }

  private def of(stage: Int): Option[ExecTotals] = stageJob.get(stage).flatMap(jobs.get).map(_.t)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(e.stageInfo.stageId).foreach(_.stages += 1)
    events += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    of(e.stageId).foreach { t =>
      t.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        t.cpuNs += m.executorCpuTime
        t.runMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.inputBytes += m.inputMetrics.bytesRead
      }
    }
    if (e.taskInfo != null)
      e.taskInfo.accumulables.foreach(a => addScan(a.id, a.update))
    events += 1
  }

  private def addScan(id: Long, v: Option[Any]): Unit =
    accumKey.get(id).foreach(k => v.foreach {
      case n: Long => scanSums(k) = scanSums.getOrElse(k, 0L) + n
      case _       =>
    })

  /** The file-write node of a plan, under any adaptive-plan wrapper. */
  private def writeNode(info: SparkPlanInfo): Option[SparkPlanInfo] =
    if (info.nodeName == WriteNode) Some(info)
    else if (info.nodeName == "AdaptiveSparkPlan") info.children.headOption.flatMap(writeNode)
    else None

  private def register(info: SparkPlanInfo): Unit = {
    scanMetrics.foreach { case ((node, metric), key) =>
      if (info.nodeName.startsWith(node))
        info.metrics.filter(_.name == metric).foreach(m => accumKey(m.accumulatorId) = key)
    }
    info.children.foreach(register)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart if s.time >= fromMs =>
        val path = writeNode(s.sparkPlanInfo).map(_.simpleString.stripPrefix(WriteNode).trim.takeWhile(_ != ','))
        execs(s.executionId) = SqlExec(s.executionId, s.rootExecutionId.getOrElse(s.executionId), s.time, -1L, path)
        register(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate if execs.contains(u.executionId) => register(u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates => d.accumUpdates.foreach { case (id, v) => addScan(id, Some(v)) }
      case x: SparkListenerSQLExecutionEnd =>
        execs.get(x.executionId).foreach(s => execs(x.executionId) = s.copy(endMs = x.time))
      case _ =>
    }
    events += 1
  }

  /** Wait until every started job has ended and no event arrived for a
    * short quiet period (bounded by `timeoutMs`). */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    var settled = false
    while (!settled && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val (s, e, n) = synchronized((started, ended, events))
      settled = s == e && n == last
      last = n
    }
  }

  /** Finished SQL executions, in start order. */
  def executions: Seq[SqlExec] = synchronized(execs.values.filter(_.endMs >= 0).toSeq)

  def scanSum(key: String): Long = synchronized(scanSums.getOrElse(key, 0L))

  /** The job group of the jobs that ran under root execution `root`. */
  def groupOf(root: Long): Option[String] = synchronized(jobs.values.find(_.execRoot.contains(root)).map(_.group))

  /** Totals of the jobs attributed to `module`. `relabel` maps a root SQL
    * execution to a module; jobs outside a relabelled execution keep
    * their job group. */
  def totals(module: String, relabel: SqlExec => Option[String]): ExecTotals = synchronized {
    val out = new ExecTotals
    jobs.values.foreach { j =>
      val m = j.execRoot.flatMap(execs.get).flatMap(relabel).getOrElse(j.group)
      if (m == module) out += j.t
    }
    out
  }
}

/** Catalyst and executed-plan figures of one query, read after it ran. */
final case class PlanStats(
    analysisMs: Double,
    optimizationMs: Double,
    planningMs: Double,
    graftRulesMs: Double,
    kernelSites: Int)

object Plans {

  /** Every physical node of an executed plan, looking through AQE wrappers,
    * query stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec        => q +: nodes(q.plan)
    case other => other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }

  def stats(qe: QueryExecution): PlanStats = {
    val phases = qe.tracker.phases
    def ms(name: String): Double = phases.get(name).map(_.durationMs.toDouble).getOrElse(0.0)
    val graftNs = qe.tracker.rules.collect { case (rule, s) if rule.contains("graft.") => s.totalTimeNs }.sum
    PlanStats(ms("analysis"), ms("optimization"), ms("planning"), graftNs / 1e6, kernelSites(qe.executedPlan))
  }

  /** Occurrences of graft's own native-kernel expressions in a plan. */
  def kernelSites(plan: SparkPlan): Int =
    nodes(plan).map(_.expressions.map(_.collect {
      case e if e.getClass.getName.startsWith("graft.") => 1
    }.size).sum).sum
}
