package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench regression gate's arithmetic — pure functions of two
  * per-query maps, so the failure modes that cost rounds 11-14 real
  * adjudication time are pinned here as unit tests. */
class BenchGateSpec extends AnyFunSuite {

  private def corpus(n: Int, base: Double = 1.0): Map[String, Double] =
    (1 to n).map(i => s"q$i" -> base * (0.4 + 0.05 * i)).toMap

  test("uniform box scatter flags nothing, even when the control lies (the r14 misfire)") {
    val prev = corpus(40)
    // every query 1.11x slower (new box), control claims the box is
    // 2.4x FASTER — exactly the round-14 cross-box shape that produced
    // 161 false flags under control-normalization
    val now = prev.map { case (k, v) => k -> v * 1.11 }
    val v = BenchGate.evaluate(now, prev, controlScale = 1.0 / 2.4)
    assert(v.regressions.isEmpty,
      s"uniform scatter must not flag: ${v.regressions.take(5)}")
    assert(math.abs(v.medianRatio - 1.11) < 0.01)
    assert(!v.corpusSlowdown, "a box-speed move is not a corpus slowdown")
  }

  test("an injected genuine 2x slowdown on one query IS flagged") {
    val prev = corpus(40)
    val now = prev.map { case (k, v) => k -> (if (k == "q20") v * 2.0 else v * 1.05) }
    val v = BenchGate.evaluate(now, prev, controlScale = 1.0)
    assert(v.regressions.map(_._1) === Seq("q20"))
    val (nowT, prevT) = v.regressions.head._2
    assert(nowT === prev("q20") * 2.0 && prevT === prev("q20"))
  }

  test("one regression still flags on a uniformly slower box") {
    val prev = corpus(40)
    val now = prev.map { case (k, v) => k -> (if (k == "q7") v * 3.0 else v * 1.3) }
    val v = BenchGate.evaluate(now, prev, controlScale = 1.3)
    assert(v.regressions.map(_._1) === Seq("q7"))
  }

  test("a corpus-wide 2x slowdown reports corpusSlowdown instead of 40 per-query flags") {
    val prev = corpus(40)
    val now = prev.map { case (k, v) => k -> v * 2.0 }
    val v = BenchGate.evaluate(now, prev, controlScale = 1.0)
    assert(v.regressions.isEmpty,
      "the median absorbs a uniform move — the corpus flag carries it")
    assert(v.corpusSlowdown, "median 2.0 vs control 1.0 is a code-level slowdown")
  }

  test("sub-300ms previous times neither flag nor vote in the median") {
    val prev = Map("tiny" -> 0.05, "big1" -> 2.0, "big2" -> 3.0)
    val now = Map("tiny" -> 0.4, "big1" -> 2.1, "big2" -> 3.1)
    val v = BenchGate.evaluate(now, prev, controlScale = 1.0)
    assert(v.regressions.isEmpty, "0.05s -> 0.4s is scheduling noise, not a regression")
    assert(v.nShared === 2)
  }

  test("too few shared queries falls back to the clamped control") {
    val prev = Map("a" -> 1.0, "b" -> 1.0)
    val now = Map("a" -> 0.5, "b" -> 4.0)
    // control says the box is 10x faster; the clamp keeps the scale at
    // 0.4 so the genuine 4x query still flags
    val v = BenchGate.evaluate(now, prev, controlScale = 0.1)
    assert(v.nShared === 2)
    assert(v.regressions.map(_._1) === Seq("b"))
  }

  test("disjoint corpora (renamed queries, new sf) produce no flags and no median") {
    val v = BenchGate.evaluate(Map("x" -> 1.0), Map("y" -> 1.0), controlScale = 1.0)
    assert(v.regressions.isEmpty && v.nShared === 0 && !v.corpusSlowdown)
  }

  test("worst normalized ratio sorts first") {
    val prev = corpus(40)
    val now = prev.map { case (k, v) =>
      k -> (if (k == "q5") v * 2.0 else if (k == "q6") v * 5.0 else v)
    }
    val v = BenchGate.evaluate(now, prev, controlScale = 1.0)
    assert(v.regressions.map(_._1) === Seq("q6", "q5"))
  }

  // a previous BENCH_FULL.json record, trimmed to a few entries per map
  private val record =
    """{"metric":"total","value":12.345,"unit":"sec","timing":"net","n_queries":4,""" +
    """"queries":{"a1_agg":0.512,"j1_multikey_join":1.250,"tx_bm25":2.000},""" +
    """"queries_stat":"first_pass_net_of_fixtures",""" +
    """"runs":{"a1_agg":[0.512,0.301,0.298],"j1_multikey_join":[1.250,0.900,0.950]},""" +
    """"runs_stat":"headline_3_runs_first_then_warm","spread_max":1.056,""" +
    """"errors":{"x_bad":"AnalysisException"},"control_sec":3.210,""" +
    """"control_scale_vs_prev":1.000,"median_ratio_vs_prev":1.020,"n_shared_vs_prev":3,""" +
    """"corpus_slowdown":false,"regressions_vs_prev":{"tx_bm25":[2.000,1.100]},""" +
    """"flags_cleared_on_rerun":{},"reruns":{"tx_bm25":1.050},""" +
    """"reruns_stat":"isolated_single_rerun","pipeline_bootstrap_sec":4.000,""" +
    """"materialize_gold_sec":1.000,"catalog_bootstrap_sec":0.500,""" +
    """"fixture_setup_sec":{"dt_fixture":0.700},"sf":"/data/sf0.1"}"""

  test("a previous record yields the four baselines the gate reads") {
    val b = Bench.readBaseline(record, "/data/sf0.1")
    assert(b.queries === Map("a1_agg" -> 0.512, "j1_multikey_join" -> 1.25, "tx_bm25" -> 2.0))
    assert(b.control === Some(3.21))
    assert(b.runs === Map(
      "a1_agg" -> Seq(0.512, 0.301, 0.298), "j1_multikey_join" -> Seq(1.25, 0.9, 0.95)))
    assert(b.reruns === Map("tx_bm25" -> 1.05))
  }

  test("a record from another sf, another timing scheme or unparseable text is no baseline") {
    assert(Bench.readBaseline(record, "/data/sf10") === Bench.noBaseline)
    assert(Bench.readBaseline(record.replace(""""timing":"net",""", ""), "/data/sf0.1") ===
      Bench.noBaseline)
    assert(Bench.readBaseline(record.take(200), "/data/sf0.1") === Bench.noBaseline)
  }

  // the figures of `record`, as a run hands them to Bench.Record
  private val fixed = Bench.Record(
    total = 12.345, nQueries = 4,
    queries = Seq("a1_agg" -> 0.512, "j1_multikey_join" -> 1.25, "tx_bm25" -> 2.0),
    errors = Seq("x_bad" -> "AnalysisException"),
    runs = Map("a1_agg" -> Seq(0.512, 0.301, 0.298), "j1_multikey_join" -> Seq(1.25, 0.9, 0.95)),
    spreadMax = 1.056, controlSec = 3.21, controlScale = 1.0,
    gate = BenchGate.Verdict(Nil, medianRatio = 1.02, nShared = 3, corpusSlowdown = false),
    regressions = Seq("tx_bm25" -> ((2.0, 1.1))),
    cleared = Map.empty, reruns = Map("tx_bm25" -> 1.05),
    boot = Seq("pipeline_bootstrap_sec" -> 4.0, "materialize_gold_sec" -> 1.0,
      "catalog_bootstrap_sec" -> 0.5),
    fixtures = Seq("dt_fixture" -> 0.7), sf = "/data/sf0.1")

  // a full run's printed line for `fixed`
  private val fullLine =
    """{"metric":"total","value":12.345,"unit":"sec","n_queries":4,"n_errors":1,""" +
    """"queries":{"j1_multikey_join":0.950,"a1_agg":0.301},"queries_stat":"median_of_3",""" +
    """"spread_max":1.056,"control_sec":3.210,"median_ratio_vs_prev":1.020,""" +
    """"n_regressions":1,"corpus_slowdown":false,"pipeline_bootstrap_sec":4.000,""" +
    """"materialize_gold_sec":1.000,"catalog_bootstrap_sec":0.500,""" +
    """"full":"BENCH_FULL.json","sf":"/data/sf0.1"}"""

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val lineQueries = Seq("j1_multikey_join", "a1_agg", "absent")

  test("a record written from fixed values keeps every key, order and 3-decimal number") {
    val text = mapper.writeValueAsString(fixed.full)
    assert(text === record)
    assert(Bench.readBaseline(text, "/data/sf0.1") === Bench.readBaseline(record, "/data/sf0.1"))
    assert(mapper.writeValueAsString(fixed.line(lineQueries, Bench.recordFile(None))) ===
      fullLine)
    // every headline query in the printed line still fits the tail window
    val all = fixed.copy(runs = Bench.headline.map(_ -> Seq(12.345, 12.345, 12.345)).toMap)
    assert(mapper.writeValueAsString(
      all.line(Bench.headline, Bench.recordFile(None))).length < 2000)
  }

  test("a subset record's printed line names the file the subset run wrote") {
    val file = Bench.recordFile(Some(Set("j1_multikey_join", "a1_agg")))
    assert(file === "BENCH_SUBSET.json")
    assert(mapper.writeValueAsString(fixed.line(lineQueries, file)) ===
      fullLine.replace(""""full":"BENCH_FULL.json"""", """"full":"BENCH_SUBSET.json""""))
  }
}
