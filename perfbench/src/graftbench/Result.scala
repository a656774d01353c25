package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.Paths

/** Turns one run's [[Main.Outcome]] into the result object: the
  * end-to-end metrics (untraced runs) or the per-layer metrics (traced
  * runs), plus the human-readable lines run.py prints above it. */
object Result {

  /** Every per-layer metric a traced run reports, with its unit. A metric
    * a workload does not exercise reads 0. `<layer>_s` figures are mean
    * seconds per call; execution figures are per timed op. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sessions.start_s" -> "s", "sessions.warmup_s" -> "s", "sessions.prep_s" -> "s",
    "sessions.warm_pass_s" -> "s",
    "ingest.write_s" -> "s", "ingest.bytes" -> "bytes", "ingest.files" -> "count",
    "etl.pipeline_s" -> "s", "etl.silver_s" -> "s", "etl.dims_s" -> "s", "etl.bronze_files_read" -> "count",
    "etl.rows_in" -> "count", "etl.rows_out" -> "count", "etl.dq_pass_ratio" -> "ratio",
    "etl.silver_bytes" -> "bytes",
    "sql.facts_s" -> "s", "sql.dashboard_s" -> "s", "sql.accuracy_rows" -> "count",
    "plans.analysis_ms" -> "ms", "plans.optimization_ms" -> "ms", "plans.planning_ms" -> "ms",
    "plans.graft_rules_ms" -> "ms", "plans.planning_share" -> "ratio", "plans.kernel_sites" -> "count") ++
    Main.Modules.flatMap(m => Seq(
      s"$m.jobs" -> "count", s"$m.stages" -> "count", s"$m.tasks" -> "count",
      s"$m.task_cpu_ms" -> "ms", s"$m.gc_ms" -> "ms", s"$m.shuffle_bytes" -> "bytes",
      s"$m.spill_bytes" -> "bytes", s"$m.slot_idle_ratio" -> "ratio")) ++
    CorpusMix.Ops.map(n => s"ops.${n}_s" -> "s") ++ Seq(
    "ops.persisted_rdds" -> "count", "ops.shuffle_bytes_per_doc" -> "bytes",
    "store.append_ms" -> "ms", "store.merge_ms" -> "ms", "store.delete_ms" -> "ms",
    "store.files_added" -> "count", "store.files_live" -> "count", "store.dv_files" -> "count",
    "sources.input_bytes_ratio" -> "ratio", "store.bytes_written_per_user_byte" -> "ratio",
    "trace.overhead_ratio" -> "ratio", "trace.self_coverage" -> "ratio", "box.control_s" -> "s",
    "error_ratio" -> "ratio")

  def endToEnd(o: Main.Outcome): Seq[(String, Double, String)] =
    Seq(
      ("setup_s", Stats.median(o.setups.map(_.total)), "s"),
      ("op_ms", o.w.opMs(o.untraced), "ms"),
      ("work_per_s", o.w.workPerS(o.untraced), "1/s"),
      ("heap_peak_mb", o.h.heapPeakMb, "MB"))

  def perLayer(o: Main.Outcome): Seq[(String, Double, String)] = {
    val h = o.h
    val st = h.layerStats
    def g(k: String): Double = st.getOrElse(k, 0.0)
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    val v = scala.collection.mutable.HashMap.empty[String, Double]
    // layer call times: mean seconds per call
    st.keys.filter(_.endsWith("_s")).foreach(k => v(k) = ratio(g(k), g(k.stripSuffix("_s") + "_calls")))
    v("sessions.start_s") = Stats.median(o.setups.map(_.start))
    v("sessions.warmup_s") = Stats.median(o.setups.map(_.warmup))
    v("sessions.prep_s") = Stats.median(o.setups.map(_.prep))
    v("sessions.warm_pass_s") = o.warmPassS
    val ops = o.traced.size.toDouble
    Seq("ingest.bytes", "ingest.files", "etl.rows_out", "sql.accuracy_rows").foreach(k => v(k) = ratio(g(k), ops))
    // file writes inside Pipeline.run, split by output path: seconds per batch
    Seq("etl.silver", "etl.dims", "sql.facts").foreach(l => v(s"${l}_s") = ratio(g(s"$l.write_s"), ops))
    v("etl.dq_pass_ratio") = ratio(g("etl.silver_gain"), g("etl.records_landed"))
    v("etl.silver_bytes") = g("etl.silver_bytes")
    val planned = h.plannedQueries.toDouble
    Seq("analysis", "optimization", "planning", "graft_rules").foreach(p =>
      v(s"plans.${p}_ms") = ratio(g(s"plans.${p}_ms"), planned))
    v("plans.kernel_sites") = ratio(g("plans.kernel_sites"), planned)
    v("plans.planning_share") = ratio(
      g("plans.analysis_ms") + g("plans.optimization_ms") + g("plans.planning_ms"), g("plans.query_ms"))
    h.probe.foreach { p =>
      v("etl.bronze_files_read") = ratio(p.scanSum("json_files_read"), ops)
      v("etl.rows_in") = ratio(p.scanSum("json_rows_read"), ops)
      val relabel = (e: SqlExec) => e.writePath.flatMap(o.w.writeLayer).map(_._2)
      def totals(m: String) = p.totals(m, relabel)
      Main.Modules.foreach { m =>
        val t = totals(m)
        v(s"$m.jobs") = ratio(t.jobs, ops)
        v(s"$m.stages") = ratio(t.stages, ops)
        v(s"$m.tasks") = ratio(t.tasks, ops)
        v(s"$m.task_cpu_ms") = ratio(t.cpuNs / 1e6, ops)
        v(s"$m.gc_ms") = ratio(t.gcMs, ops)
        v(s"$m.shuffle_bytes") = ratio(t.shuffleBytes, ops)
        v(s"$m.spill_bytes") = ratio(t.spillBytes, ops)
        v(s"$m.slot_idle_ratio") =
          if (t.tasks == 0) 0.0 else Stats.slotIdleRatio(t.runMs, h.moduleWallNs.getOrElse(m, 0L) / 1e6, h.cores)
      }
      v("ops.shuffle_bytes_per_doc") = ratio(totals("ops").shuffleBytes, g("ops.docs"))
      v("sources.input_bytes_ratio") =
        ratio(ratio(totals("sources").inputBytes, g("sources.read_calls")), g("dml.live_bytes"))
    }
    v("ops.persisted_rdds") = h.maxPersisted
    Seq("append", "merge", "delete").foreach(k =>
      v(s"store.${k}_ms") = ratio(g(s"store.${k}_ms_sum"), g(s"store.${k}_calls")))
    v("store.files_added") = ratio(g("store.files_added"), g("store.rounds"))
    v("store.files_live") = g("store.files_live")
    v("store.dv_files") = g("store.dv_files")
    // bytes the traced rounds added under the table root ÷ the bytes of the
    // rows the user inserted or merged, at the live table's bytes per row
    v("store.bytes_written_per_user_byte") = ratio(g("store.bytes_written"),
      g("store.user_rows") * ratio(g("dml.live_bytes"), g("dml.live_rows")))
    v("trace.overhead_ratio") =
      if (o.untraced.isEmpty || o.traced.isEmpty) 0.0
      else ratio(Stats.typicalMs(o.traced), Stats.typicalMs(o.untraced))
    // summed self times of all spans ÷ the traced half's wall time, clocked
    // apart from the tracer: 1 when the spans nest and cover the run
    v("trace.self_coverage") = ratio(Trace.selfTimesNs(h.tracer.spans).values.sum.toDouble, o.tracedWallNs.toDouble)
    v("box.control_s") = o.boxS
    v("error_ratio") = Stats.errorRatio(h.failed, h.attempted)
    PerLayer.map { case (k, unit) => (k, v.getOrElse(k, 0.0), unit) }
  }

  private def finite(d: Double): Double = if (d.isNaN || d.isInfinite) 0.0 else d

  def write(a: Args, o: Main.Outcome): Unit = {
    val h = o.h
    val metrics = if (a.trace) perLayer(o) else endToEnd(o)
    val lines = (if (a.trace) Nil else metrics) ++ o.lines ++ Seq(
      ("error_ratio", Stats.errorRatio(h.failed, h.attempted), s"ratio ${h.failed}/${h.attempted}"),
      ("box.control_s", o.boxS, "s"))
    val json = new ObjectMapper()
    val root = json.createObjectNode()
    root.put("correct", h.failed == 0)
    root.put("attempted", h.attempted)
    root.put("failed", h.failed)
    val m = root.putObject("metrics")
    metrics.foreach { case (n, v, u) => m.putObject(n).put("value", finite(v)).put("unit", u) }
    val ls = root.putArray("lines")
    lines.foreach { case (n, v, u) => ls.addArray().add(n).add(finite(v)).add(u) }
    val fs = root.putArray("failures")
    h.failures.foreach(f => fs.add(f))
    json.writeValue(Paths.get(a.outPath).toFile, root)
    if (a.trace && a.tracePath.nonEmpty) {
      val t = json.createObjectNode()
      t.put("run_id", h.tracer.runId)
      val spans = t.putArray("spans")
      h.tracer.spans.foreach { s =>
        spans.addObject().put("id", s.id).put("parent", s.parent).put("name", s.name)
          .put("start_ns", s.startNs).put("end_ns", s.endNs)
      }
      json.writeValue(Paths.get(a.tracePath).toFile, t)
    }
  }
}
