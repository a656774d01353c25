package graft.ops

import graft.SparkSuite

class TopKSpec extends SparkSuite {

  test("TopKByValue: desc by value, ties broken asc by id, bounded at k") {
    val agg = TopK.TopKByValue(3)
    val b = Seq((5.0, 10L), (7.0, 2L), (5.0, 3L), (9.0, 8L), (1.0, 1L))
      .foldLeft(agg.zero)(agg.reduce)
    assert(b.vs === Seq(9.0, 7.0, 5.0))
    assert(b.ids === Seq(8L, 2L, 3L)) // tie at 5.0 → lower id wins
  }

  test("TopKByValue: merge of partials equals top-k of the union") {
    val agg = TopK.TopKByValue(2)
    val left = Seq((4.0, 1L), (2.0, 2L)).foldLeft(agg.zero)(agg.reduce)
    val right = Seq((5.0, 3L), (3.0, 4L)).foldLeft(agg.zero)(agg.reduce)
    val m = agg.merge(left, right)
    assert(m.vs === Seq(5.0, 4.0) && m.ids === Seq(3L, 1L))
  }

  test("partial top-k agrees with the window top-N plan on real data") {
    val viaAgg = graft.SparkEntry.queries("w4b_topn_agg")(spark, sf())
      .collect().map(_.toSeq).toSeq
    val viaWindow = graft.SparkEntry.queries("w4_topn_group")(spark, sf())
      .collect().map(_.toSeq).toSeq
    assert(viaAgg === viaWindow)
  }

  test("the aggregator shuffle carries k-buffers, not raw rows (partial+final ObjectHashAggregate)") {
    val p = graft.SparkEntry.queries("w4b_topn_agg")(spark, sf())
      .queryExecution.executedPlan.toString
    // typed-aggregator plans use ObjectHashAggregate; two levels ⇒
    // map-side partials exist and only merged buffers cross the exchange
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }
}
