package graftbench

/** Self-tests of the benchmark's own arithmetic. Run with
  * `python3 perfbench/run.py --selftest`; exits non-zero on a failure. */
object SelfTest {
  private var failures = 0

  private def eq(name: String, got: Any, want: Any): Unit =
    if (got == want) println(s"ok   $name")
    else { failures += 1; println(s"FAIL $name: got $got, want $want") }

  private def near(name: String, got: Double, want: Double): Unit =
    eq(name, math.abs(got - want) < 1e-9, true)

  def run(): Int = {
    failures = 0
    // percentile rule: the highest percentile with >= 10 samples beyond it
    eq("tail of 19 samples: none", Stats.tailPercentile(19), None)
    eq("tail of 20 samples: p50", Stats.tailPercentile(20), Some(50.0))
    eq("tail of 40 samples: p75", Stats.tailPercentile(40), Some(75.0))
    eq("tail of 100 samples: p90", Stats.tailPercentile(100), Some(90.0))
    eq("tail of 199 samples: p90", Stats.tailPercentile(199), Some(90.0))
    eq("tail of 200 samples: p95", Stats.tailPercentile(200), Some(95.0))
    eq("tail of 1000 samples: p99", Stats.tailPercentile(1000), Some(99.0))
    eq("tail of 10000 samples: p99.9", Stats.tailPercentile(10000), Some(99.9))
    val xs = (1 to 100).map(_.toDouble)
    near("nearest-rank p90 of 1..100", Stats.percentile(xs, 90), 90.0)
    near("nearest-rank p50 of 1..100", Stats.percentile(xs, 50), 50.0)
    near("median of an even sample", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
    near("median of an odd sample", Stats.median(Seq(5.0, 1.0, 3.0)), 3.0)

    // end-to-end estimators: every op taken at its kind's median
    val mix = Seq(Sample("a", 10, 1), Sample("a", 12, 1), Sample("a", 500, 1), Sample("b", 100, 4), Sample("b", 100, 4))
    near("typicalMs: one slow repeat moves only its kind's median", Stats.typicalMs(mix), (12.0 * 3 + 100 * 2) / 5)
    near("workPerS: work over median-weighted time", Stats.workPerS(mix), (3.0 + 8) / ((12.0 * 3 + 100 * 2) / 1000))

    // self time from nested spans
    val nested = Seq(
      Span(0, -1, "workload", 0, 100),
      Span(1, 0, "op", 10, 60),
      Span(2, 1, "etl.silver", 15, 35),
      Span(3, 1, "sql.facts", 35, 55),
      Span(4, 0, "op", 70, 90))
    val self = Trace.selfTimesNs(nested)
    eq("root self = duration - children", self(0), 30L)
    eq("op self = duration - layer calls", self(1), 10L)
    eq("leaf self = duration", self(2), 20L)
    eq("self times of nested spans sum to the root", self.values.sum, 100L)
    val overlap = Seq(Span(0, -1, "r", 0, 100), Span(1, 0, "a", 10, 50), Span(2, 0, "b", 40, 70))
    eq("overlapping children are merged", Trace.selfTimesNs(overlap)(0), 40L)
    eq("interval union", Trace.union(Seq((0L, 10L), (5L, 20L), (30L, 40L))), 30L)
    val t = new Tracer(true, "selftest")
    t.span("root") { t.span("a")(t.span("a1")(())); t.span("b")(()) }
    val byName = t.spans.map(s => s.name -> s).toMap
    eq("tracer nests a under root", byName("a").parent, byName("root").id)
    eq("tracer nests a1 under a", byName("a1").parent, byName("a").id)
    eq("tracer self times sum to the root", Trace.selfTimesNs(t.spans).values.sum, byName("root").durNs)
    t.attach("late", byName("b").startNs, byName("b").endNs)
    val late = t.spans.find(_.name == "late").get
    eq("an attached interval nests under the innermost span containing it", late.parent, byName("b").id)
    eq("self times still sum to the root after attach", Trace.selfTimesNs(t.spans).values.sum, byName("root").durNs)
    val off = new Tracer(false, "off")
    off.span("x")(())
    eq("a disabled tracer records nothing", off.spans.size, 0)

    // error_ratio counting
    near("error_ratio 0 of 10", Stats.errorRatio(0, 10), 0.0)
    near("error_ratio 1 of 4", Stats.errorRatio(1, 4), 0.25)
    near("error_ratio with nothing attempted", Stats.errorRatio(0, 0), 1.0)

    // slot_idle_ratio = 1 - task time / (wall x cores)
    near("half the slots idle", Stats.slotIdleRatio(200, 100, 4), 0.5)
    near("all slots busy", Stats.slotIdleRatio(400, 100, 4), 0.0)
    near("more task time than slots clamps to 0", Stats.slotIdleRatio(900, 100, 4), 0.0)
    near("no task time", Stats.slotIdleRatio(0, 100, 4), 1.0)
    near("no wall time", Stats.slotIdleRatio(10, 0, 4), 0.0)

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    if (failures == 0) 0 else 1
  }
}
