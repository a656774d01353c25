package graft.sources

import graft.SparkSuite
import graft.store.{PartitionSpec, SnapshotStore}
import org.apache.spark.sql.functions._

/** GROUP BY aggregate pushdown over identity-partitioned snapshot
  * tables: when every file is routed under an identity transform of
  * the group columns and the stats sidecar covers every file, the
  * rollup (COUNT(*)/MIN/MAX per group) folds from directory names plus
  * ONE sidecar read — zero data pages, zero footer opens. Anything
  * unprovable (filters, string partitions, unrouted files, DVs)
  * declines to the ordinary distributed plan, never answers wrong. */
class GroupByPushdownSpec extends SparkSuite {

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("identity(int) rollup answers from metadata: no data pages, no footer opens") {
    val table = freshDir("gbp-int") + "/t"
    val nation = graft.sources.Tables.nation(spark, sf())
    SnapshotStore.partitionedCommit(
      nation, table, Seq(PartitionSpec.PartField("identity", "n_regionkey")))

    val read = spark.read.format("graft-snapshot").option("path", table).load()
    val q = read.groupBy("n_regionkey")
      .agg(count(lit(1)).as("n"), min("n_nationkey").as("mn"), max("n_nationkey").as("mx"))

    val footers0 = SnapshotScanProbe.plannerFooterReads
    val got = sortedRows(q)
    assert(SnapshotScanProbe.scans(q).head.description.contains("FOOTER AGGREGATE [group by n_regionkey"),
      s"plan must be the metadata rollup: ${SnapshotScanProbe.scans(q).head.description}")
    assert(SnapshotScanProbe.plannerFooterReads === footers0,
      "the grouped rollup must not open data-file footers")

    val want = sortedRows(nation.groupBy("n_regionkey")
      .agg(count(lit(1)).as("n"), min("n_nationkey").as("mn"), max("n_nationkey").as("mx")))
    assert(got === want, "metadata rollup must equal the distributed truth")
  }

  test("null partition values group correctly; date keys parse to date groups") {
    import spark.implicits._
    val table = freshDir("gbp-null") + "/t"
    val df = Seq(
      (Some(1), java.sql.Date.valueOf("2024-01-01"), 10L),
      (Some(1), java.sql.Date.valueOf("2024-01-01"), 20L),
      (Some(2), java.sql.Date.valueOf("2024-01-02"), 30L),
      (None: Option[Int], java.sql.Date.valueOf("2024-01-02"), 40L))
      .toDF("k", "d", "v")
    SnapshotStore.partitionedCommit(
      df, table, Seq(PartitionSpec.PartField("identity", "k"),
                     PartitionSpec.PartField("identity", "d")))

    val read = spark.read.format("graft-snapshot").option("path", table).load()
    val q = read.groupBy("k", "d").agg(count(lit(1)).as("n"), max("v").as("mx"))
    assert(SnapshotScanProbe.scans(q).head.description.contains("group by k,d"),
      s"two-key identity rollup must push down: ${SnapshotScanProbe.scans(q).head.description}")
    assert(sortedRows(q) ===
      sortedRows(df.groupBy("k", "d").agg(count(lit(1)).as("n"), max("v").as("mx"))))
  }

  test("declines: filter present / string partition / unrouted rewrite — same answers") {
    val nation = graft.sources.Tables.nation(spark, sf())

    // (a) residual filter → ordinary scan, correct rows
    val t1 = freshDir("gbp-filter") + "/t"
    SnapshotStore.partitionedCommit(
      nation, t1, Seq(PartitionSpec.PartField("identity", "n_regionkey")))
    val r1 = spark.read.format("graft-snapshot").option("path", t1).load()
    val q1 = r1.filter(col("n_nationkey") > 5)
      .groupBy("n_regionkey").agg(count(lit(1)).as("n"))
    assert(!SnapshotScanProbe.scans(q1).head.description.contains("FOOTER AGGREGATE"),
      "a residual filter must decline the metadata rollup")
    assert(sortedRows(q1) === sortedRows(nation.filter(col("n_nationkey") > 5)
      .groupBy("n_regionkey").agg(count(lit(1)).as("n"))))

    // (b) string identity partition: hive default dir = "null or ''" — decline
    val t2 = freshDir("gbp-str") + "/t"
    SnapshotStore.partitionedCommit(
      nation, t2, Seq(PartitionSpec.PartField("identity", "n_name")))
    val r2 = spark.read.format("graft-snapshot").option("path", t2).load()
    val q2 = r2.groupBy("n_name").agg(count(lit(1)).as("n"))
    assert(!SnapshotScanProbe.scans(q2).head.description.contains("FOOTER AGGREGATE"),
      "string identity partitions must decline the grouped pushdown")
    assert(sortedRows(q2) === sortedRows(nation.groupBy("n_name").agg(count(lit(1)).as("n"))))

    // (c) live deletion vectors → the sidecar's per-file rows overcount
    //     deleted rows — decline, same rows
    val t3 = freshDir("gbp-dv") + "/t"
    SnapshotStore.partitionedCommit(
      nation, t3, Seq(PartitionSpec.PartField("identity", "n_regionkey")))
    SnapshotStore.deleteCommit(spark, t3, Seq("n_nationkey"), col("n_nationkey") === 3)
    val r3 = spark.read.format("graft-snapshot").option("path", t3).load()
    val q3 = r3.groupBy("n_regionkey").agg(count(lit(1)).as("n"))
    assert(!SnapshotScanProbe.scans(q3).head.description.contains("FOOTER AGGREGATE"),
      "live DVs must decline the grouped pushdown")
    assert(sortedRows(q3) === sortedRows(nation.filter(col("n_nationkey") =!= 3)
      .groupBy("n_regionkey").agg(count(lit(1)).as("n"))))
  }

  test("partition-spec evolution: rollup stays answerable while the key is identity in every generation") {
    import spark.implicits._
    val table = freshDir("gbp-evolve") + "/t"
    val gen0 = Seq((1, "a", 10L), (2, "b", 20L)).toDF("k", "s", "v")
    SnapshotStore.partitionedCommit(
      gen0, table, Seq(PartitionSpec.PartField("identity", "k")))
    // evolve: keep identity(k), add truncate(1, s) — the old generation's
    // files still carry an exact k value under their own dir names
    SnapshotStore.evolvePartitionSpec(spark, table,
      Seq(PartitionSpec.PartField("identity", "k"), PartitionSpec.PartField("truncate", "s", 1)))
    val gen1 = Seq((1, "c", 30L), (3, "d", 40L)).toDF("k", "s", "v")
    SnapshotStore.appendCommit(gen1, table)

    val all = gen0.unionAll(gen1)
    val read = spark.read.format("graft-snapshot").option("path", table).load()
    val q = read.groupBy("k").agg(count(lit(1)).as("n"), max("v").as("mx"))
    assert(SnapshotScanProbe.scans(q).head.description.contains("FOOTER AGGREGATE [group by k"),
      s"identity key present in every generation must stay pushed: ${SnapshotScanProbe.scans(q).head.description}")
    assert(sortedRows(q) ===
      sortedRows(all.groupBy("k").agg(count(lit(1)).as("n"), max("v").as("mx"))))

    // evolving AWAY from identity(k) makes new files unprovable → decline
    SnapshotStore.evolvePartitionSpec(spark, table,
      Seq(PartitionSpec.PartField("truncate", "s", 1)))
    SnapshotStore.appendCommit(Seq((4, "e", 50L)).toDF("k", "s", "v"), table)
    val read2 = spark.read.format("graft-snapshot").option("path", table).load()
    val q2 = read2.groupBy("k").agg(count(lit(1)).as("n"))
    assert(!SnapshotScanProbe.scans(q2).head.description.contains("FOOTER AGGREGATE"),
      "a generation without identity(k) must decline the grouped pushdown")
    assert(sortedRows(q2) === sortedRows(
      all.unionAll(Seq((4, "e", 50L)).toDF("k", "s", "v"))
        .groupBy("k").agg(count(lit(1)).as("n"))))
  }

  test("COUNT(col) pushes down via null proofs; temporal MIN/MAX answer typed") {
    import spark.implicits._
    // files with PURE null shape per column: one commit all-null, one null-free
    val t = freshDir("gbp-count") + "/t"
    SnapshotStore.commit(
      Seq((1, Some(10.0)), (2, Some(20.0))).toDF("id", "v"), t)
    SnapshotStore.appendCommit(
      Seq((3, None: Option[Double]), (4, None: Option[Double])).toDF("id", "v"), t)
    val read = spark.read.format("graft-snapshot").option("path", t).load()
    val q = read.agg(count(col("v")).as("n_v"), count(lit(1)).as("n"))
    assert(SnapshotScanProbe.scans(q).head.description.contains("count(v)"),
      s"count(col) must push to metadata: ${SnapshotScanProbe.scans(q).head.description}")
    assert(q.collect()(0).toSeq === Seq(2L, 4L))

    // temporal min/max: global + grouped over a timestamp column
    val t2 = freshDir("gbp-ts") + "/t"
    val orders = graft.sources.Tables.orders(spark, sf())
    SnapshotStore.partitionedCommit(orders, t2,
      Seq(graft.store.PartitionSpec.PartField("identity", "o_custkey")))
    val r2 = spark.read.format("graft-snapshot").option("path", t2).load()
    val g = r2.agg(min("o_orderdate").as("lo"), max("o_orderdate").as("hi"))
    assert(SnapshotScanProbe.scans(g).head.description.contains("min(o_orderdate)"),
      s"temporal min/max must push: ${SnapshotScanProbe.scans(g).head.description}")
    assert(g.collect()(0) ===
      orders.agg(min("o_orderdate").as("lo"), max("o_orderdate").as("hi")).collect()(0))
    val gg = r2.groupBy("o_custkey")
      .agg(max("o_orderdate").as("hi"), count(col("o_orderdate")).as("n"))
    assert(SnapshotScanProbe.scans(gg).head.description.contains("FOOTER AGGREGATE [group by o_custkey"),
      s"grouped temporal rollup must push: ${SnapshotScanProbe.scans(gg).head.description}")
    assert(sortedRows(gg) === sortedRows(orders.groupBy("o_custkey")
      .agg(max("o_orderdate").as("hi"), count(col("o_orderdate")).as("n"))))
  }

  test("COUNT(col) over mixed-null files: declines without NDV coverage, answers after analyze") {
    import spark.implicits._
    val t = freshDir("gbp-ndv") + "/t"
    // one file holding BOTH null and non-null v rows: sidecar group is
    // neither noNulls nor allNull — unprovable from the sidecar alone
    SnapshotStore.commit(
      Seq((1, Some(1L)), (2, None: Option[Long]), (3, Some(3L)))
        .toDF("id", "v").coalesce(1), t)
    val read = spark.read.format("graft-snapshot").option("path", t).load()
    val q1 = read.agg(count(col("v")).as("n_v"))
    assert(!SnapshotScanProbe.scans(q1).head.description.contains("FOOTER AGGREGATE"),
      "mixed-null groups with no NDV sidecar must decline")
    assert(q1.collect()(0).getLong(0) === 2L)

    // analyze publishes EXACT per-file null counts -> pushdown answers
    graft.ops.NdvStats.analyzeCommit(spark, t, Seq("v"))
    val read2 = spark.read.format("graft-snapshot").option("path", t).load()
    val q2 = read2.agg(count(col("v")).as("n_v"), count(lit(1)).as("n"))
    assert(SnapshotScanProbe.scans(q2).head.description.contains("count(v)"),
      s"NDV null counts must unlock count(col): ${SnapshotScanProbe.scans(q2).head.description}")
    assert(q2.collect()(0).toSeq === Seq(2L, 3L))
  }
}
