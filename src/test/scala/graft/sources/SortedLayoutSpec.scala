package graft.sources

import graft.SparkSuite
import graft.store.SnapshotStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sorted layouts ([[SnapshotStore.sortedCommit]] /
  * `bucketedCommit(sortCols)`) and the scan's `SupportsReportOrdering`:
  * the manifest records the write-time sort, the scan reports per-
  * partition ordering, and a co-bucketed SORTED join plans with ZERO
  * exchanges AND ZERO sorts — write-once shuffle+sort amortized over
  * every later merge join. */
class SortedLayoutSpec extends SparkSuite {

  import spark.implicits._

  private def fresh(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def load(t: String): DataFrame =
    spark.read.format("graft-snapshot").option("path", t).load()

  /** Count plan nodes of type T, walking INTO the AQE wrapper (a bare
    * collect() over executedPlan stops at AdaptiveSparkPlanExec). */
  private def countNodes(df: DataFrame)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, Unit]): Int = {
    df.collect() // finalize adaptive stages first
    var n = 0
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p match {
        case x if pf.isDefinedAt(x) => n += 1
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
        case _ => ()
      }
      p.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    n
  }

  private def sortNodes(df: DataFrame): Int =
    countNodes(df) { case _: org.apache.spark.sql.execution.SortExec => () }

  private def smjNodes(df: DataFrame): Int =
    countNodes(df) { case _: org.apache.spark.sql.execution.joins.SortMergeJoinExec => () }

  private def shuffles(df: DataFrame): Int = SparkSuite.countExchanges(df)

  test("sortedCommit records sortcols; every scan partition is internally ordered") {
    val t = fresh("sorted-basic")
    SnapshotStore.sortedCommit(
      spark.range(0, 50000).selectExpr("pmod(id * 2654435761, 50000) AS k", "id AS v"),
      t, Seq("k"), 8)
    val m = SnapshotStore.manifest(spark, t, 0)
    assert(m.sortCols === Seq("k") && m.op === "sort")
    // per-partition monotonicity through the connector
    val violations = load(t).select(col("k")).as[Long].rdd
      .mapPartitions { it =>
        var prev = Long.MinValue
        var bad = 0
        it.foreach { k => if (k < prev) bad += 1; prev = k }
        Iterator.single(bad)
      }.collect().sum
    assert(violations === 0, "every row-group partition must be ascending by k")
    // range clustering composes: a point filter prunes to 1 file
    val one = load(t).filter(col("k") === 123L)
    assert(one.count() === 1L)
  }

  test("co-bucketed SORTED tables merge-join with zero exchanges and zero sorts") {
    val wh = java.nio.file.Files.createTempDirectory("sorted-spj").toString
    spark.conf.set("spark.sql.catalog.sortcat", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.sortcat.warehouse", wh)
    val savedBc = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val orders = graft.sources.Tables.orders(spark, sf("sf0.01"))
        .select("o_orderkey", "o_totalprice")
      val lineitem = graft.sources.Tables.lineitem(spark, sf("sf0.01"))
        .select("l_orderkey", "l_quantity").withColumnRenamed("l_orderkey", "o_orderkey")
      SnapshotStore.bucketedCommit(orders, s"$wh/f/o_s", Seq("o_orderkey"), 8,
        sortCols = Seq("o_orderkey"))
      SnapshotStore.bucketedCommit(lineitem, s"$wh/f/l_s", Seq("o_orderkey"), 8,
        sortCols = Seq("o_orderkey"))

      val joined = spark.sql(
        "SELECT o_orderkey, o_totalprice, l_quantity FROM sortcat.f.o_s JOIN sortcat.f.l_s USING (o_orderkey)")
      assert(smjNodes(joined) > 0,
        s"expected a sort-merge join:\n${joined.queryExecution.executedPlan}")
      assert(shuffles(joined) === 0,
        s"co-bucketed sides must not exchange:\n${joined.queryExecution.executedPlan}")
      assert(sortNodes(joined) === 0,
        s"scan-reported ordering must elide both sorts:\n${joined.queryExecution.executedPlan}")

      val got = joined.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
        .sorted.toSeq
      val expect = orders.join(lineitem, "o_orderkey")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sorted.toSeq
      assert(got === expect)

      // control: same buckets, NO recorded sort → SMJ must re-sort
      SnapshotStore.bucketedCommit(orders, s"$wh/f/o_u", Seq("o_orderkey"), 8)
      SnapshotStore.bucketedCommit(lineitem, s"$wh/f/l_u", Seq("o_orderkey"), 8)
      val unsorted = spark.sql(
        "SELECT o_orderkey FROM sortcat.f.o_u JOIN sortcat.f.l_u USING (o_orderkey)")
      assert(shuffles(unsorted) === 0)
      assert(sortNodes(unsorted) > 0, "without sortcols the merge join must add sorts")
    } finally {
      savedBc.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      spark.conf.unset("spark.sql.catalog.sortcat.warehouse")
      spark.conf.unset("spark.sql.catalog.sortcat")
    }
  }

  test("delete commits carry the sort; appends and rewrites drop it") {
    val t = fresh("sorted-life")
    SnapshotStore.sortedCommit(
      spark.range(0, 1000).selectExpr("id AS k", "id * 7 AS v"), t, Seq("k"), 4)
    SnapshotStore.deleteCommit(spark, t, Seq("k"), col("k") < 10)
    assert(SnapshotStore.manifest(spark, t, 1).sortCols === Seq("k"),
      "DV filtering preserves order; the tag must survive")
    // order still holds with the DVs applied
    val violations = load(t).select(col("k")).as[Long].rdd
      .mapPartitions { it =>
        var prev = Long.MinValue; var bad = 0
        it.foreach { k => if (k < prev) bad += 1; prev = k }
        Iterator.single(bad)
      }.collect().sum
    assert(violations === 0)

    SnapshotStore.appendCommit(
      spark.range(2000, 2100).selectExpr("id AS k", "id * 7 AS v").coalesce(1), t)
    assert(SnapshotStore.manifest(spark, t, 2).sortCols === Nil,
      "an unsorted append must drop the promise")

    SnapshotStore.commit(spark.range(0, 10).selectExpr("id AS k", "id AS v"), t)
    assert(SnapshotStore.manifest(spark, t, 3).sortCols === Nil)
  }
}
