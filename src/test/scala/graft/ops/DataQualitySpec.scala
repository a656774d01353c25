package graft.ops

import graft.SparkSuite

/** The exact report is oracle-checked end-to-end as `c11_dq_report`;
  * these tests pin the TWO-LEVEL contract: the approximate screen agrees
  * with the exact report on what passes/fails, estimates violation mass
  * in one scan, and its plan carries no shuffle of the profiled table.
  */
class DataQualitySpec extends SparkSuite {

  import spark.implicits._
  import DataQuality._

  private def dirty = Seq(
    // (id, grade, score, parent_ref) — id 5 duplicated 3×, one null
    // grade, one out-of-range score, refs 99/98 dangle
    (1L, "A", 0.5, 1L), (2L, "B", 0.2, 2L), (3L, "A", 0.9, 1L),
    (4L, null.asInstanceOf[String], 0.4, 2L), (5L, "C", 1.7, 99L),
    (5L, "A", 0.1, 3L), (5L, "B", 0.3, 98L)
  ).toDF("id", "grade", "score", "parent_ref")

  private def parent = Seq(1L, 2L, 3L).toDF("pid")

  private def constraints = Seq(
    NotNull("grade"),
    InRange("score", 0.0, 1.0),
    Unique(Seq("id")),
    RefIntegrity("parent_ref", parent, "pid"))

  test("approximate screen agrees with the exact report on pass/fail and exact row-level counts") {
    val exact = report(dirty, constraints)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val approx = reportApprox(dirty, constraints)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(exact.keySet === approx.keySet)
    // row-level rules are exact in BOTH levels
    assert(approx("not_null(grade)") === exact("not_null(grade)"))
    assert(approx("in_range(score,0.0,1.0)") === exact("in_range(score,0.0,1.0)"))
    // heavy rules: pass/fail agrees; the estimate is a usable magnitude.
    // Unique: exact counts every duplicated row (3 rows of id=5); HLL on
    // 7 rows is exact, so the deficit is rows−distinct = 2 — both nonzero.
    assert(!approx("unique(id)")._2 && !exact("unique(id)")._2)
    assert(approx("unique(id)")._1 >= 1L)
    // RefIntegrity: Bloom has no false negatives — at this size no false
    // positives either, so the estimate matches the exact count (2)
    assert(approx("ref_integrity(parent_ref)") === exact("ref_integrity(parent_ref)"))
  }

  test("a clean table passes every constraint at both levels") {
    val clean = Seq((1L, "A", 0.5, 1L), (2L, "B", 0.2, 2L), (3L, "A", 0.9, 3L))
      .toDF("id", "grade", "score", "parent_ref")
    assert(report(clean, constraints).collect().forall(_.getBoolean(2)))
    assert(reportApprox(clean, constraints).collect().forall(_.getBoolean(2)))
  }

  test("the approximate screen shuffles nothing: one scan, no Exchange over the profiled table") {
    // the whole point of level 1 at 100 TB — Unique loses its key-tuple
    // shuffle (HLL sketch), RefIntegrity its join (broadcast Bloom). The
    // only exchange allowed is the one-row final-aggregate gather.
    val plan = reportApprox(dirty, constraints).queryExecution.executedPlan.toString
    val shuffles = "ShuffleExchange".r.findAllIn(plan).size
    assert(shuffles <= 1, s"expected at most the final single-partition gather, got $shuffles:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"screen must not join:\n$plan")
  }
}
