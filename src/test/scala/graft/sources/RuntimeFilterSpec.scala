package graft.sources

import graft.SparkSuite
import graft.store.SnapshotStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Join-driven dynamic file pruning through the DSv2 connector
  * ([[SnapshotScan]] as `SupportsRuntimeV2Filtering` on DATA columns):
  * Spark's dynamic-pruning machinery hands the distinct join keys of a
  * filtered broadcast side back to the scan as runtime IN predicates;
  * the scan re-prunes files/row groups from the stats sidecar (and the
  * Bloom manifest when one exists) before any task launches. The DSv2
  * analog of dynamic partition pruning, without directory layouts. */
class RuntimeFilterSpec extends SparkSuite {

  import spark.implicits._

  private def fresh(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def load(table: String): DataFrame =
    spark.read.format("graft-snapshot").option("path", table).load()

  /** A dim the PartitionPruning rule will treat as a pruning source.
    * Two requirements the shape must meet: (1) a SELECTIVE FILTER on
    * the build side (a bare local relation never injects), and (2) the
    * filter must be on a NON-join-key column — a filter directly on
    * the join key gets constraint-propagated to the fact side as a
    * STATIC pushdown, leaving the runtime filter nothing to do (which
    * is correct, but not what these tests pin). */
  private def filteredDim(df: DataFrame, filter: org.apache.spark.sql.Column): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("rtf-dim").toString
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).filter(filter)
  }

  test("broadcast-join keys prune range-clustered files at runtime; result unchanged") {
    val t = fresh("rtf-range")
    val fact = spark.range(0, 100000).select(
      col("id").as("k"), (col("id") % 97).as("payload"))
    // range-clustered: each of the 20 files holds a disjoint k range,
    // so a small key set is provably absent from most files
    SnapshotStore.commit(fact.repartitionByRange(20, col("k")), t)

    val dim = filteredDim(
      spark.range(0, 1000).select((col("id") * 100).as("k"), col("id").as("dimid"),
        concat(lit("tag"), col("id")).as("tag")),
      col("dimid").isin(5L, 700L, 999L))
    val joined = load(t).join(broadcast(dim), "k").select("k", "payload", "tag")

    val rows = joined.collect().toSet
    assert(rows === Set(
      org.apache.spark.sql.Row(500L, 500L % 97, "tag5"),
      org.apache.spark.sql.Row(70000L, 70000L % 97, "tag700"),
      org.apache.spark.sql.Row(99900L, 99900L % 97, "tag999")))
    // 3 keys hit at most 3 of the 20 disjoint-range files — the
    // runtime filter must have dropped the rest at planning
    val pruned = SnapshotScanProbe.scans(joined).head.runtimePrunedGroups
    assert(pruned >= 17, s"expected >=17 groups runtime-pruned, got $pruned")
  }

  test("runtime pruning composes with static pushdown and keeps DV correctness") {
    val t = fresh("rtf-dv")
    SnapshotStore.commit(
      spark.range(0, 50000).toDF("k").repartitionByRange(10, col("k")), t)
    SnapshotStore.deleteCommit(spark, t, Seq("k"), col("k").isin(5L, 40000L))

    val dim = Seq(5L, 7L, 40000L, 40001L).toDF("k")
    val got = load(t).join(broadcast(dim), "k").select("k").as[Long].collect().sorted
    assert(got === Array(7L, 40001L), "DV-deleted keys must not resurface under runtime pruning")
  }

  test("Bloom manifest answers runtime probes on scattered tables") {
    val t = fresh("rtf-bloom")
    // scattered by hash → every file's k range spans the table: min/max
    // stats prune nothing, only the per-file Bloom filters can
    SnapshotStore.commit(
      spark.range(0, 100000).toDF("k").repartition(16, col("k") % 16), t)
    graft.ops.BloomIndex.bloomCommit(spark, t, Seq("k"),
      expectedItems = 1L << 14, numBits = 1L << 18)

    val dim = filteredDim(
      spark.range(0, 100000).select(col("id").as("k"), col("id").as("dimid")),
      col("dimid") === 12345L)
    val q = load(t).join(broadcast(dim), "k").select("k").as[Long]
    assert(q.collect() === Array(12345L))
    val pruned = SnapshotScanProbe.scans(q).head.runtimePrunedGroups
    assert(pruned >= 8,
      s"Bloom manifest should prune most scattered files at runtime, pruned=$pruned")
  }

  test("string join keys prune at runtime too") {
    val t = fresh("rtf-str")
    val fact = spark.range(0, 20000).select(
      format_string("cust#%05d", col("id")).as("ck"), col("id").as("v"))
    SnapshotStore.commit(fact.repartitionByRange(8, col("ck")), t)

    val dim = filteredDim(
      spark.range(0, 20000).select(
        format_string("cust#%05d", col("id")).as("ck"), col("id").as("dimid")),
      col("dimid").isin(3L, 19999L))
    val q = load(t).join(broadcast(dim), "ck").select("v").as[Long]
    assert(q.collect().sorted === Array(3L, 19999L))
    assert(SnapshotScanProbe.scans(q).head.runtimePrunedGroups >= 6)
  }

  test("bucketed tables do not advertise data-column runtime filtering (SPJ contract)") {
    val t = fresh("rtf-bucketed")
    SnapshotStore.bucketedCommit(
      spark.range(0, 10000).select(col("id").as("k"), (col("id") * 2).as("v")),
      t, Seq("k"), 8)
    val dim = filteredDim(
      spark.range(0, 10000).select(col("id").as("k"), col("id").as("dimid")),
      col("dimid").isin(5L, 9999L))
    val q = load(t).join(broadcast(dim), "k").select("v").as[Long]
    assert(q.collect().sorted === Array(10L, 19998L))
    assert(SnapshotScanProbe.scans(q).head.runtimePrunedGroups === 0,
      "a KeyGroupedPartitioning-reporting scan must not drop buckets at runtime")
  }

  test("oversized runtime IN sets are ignored, small sorted sets binary-search correctly") {
    // unit-level: the RuntimeIn exclusion check against stats bounds
    val in = SnapshotScan.toRuntimeIn(
      new org.apache.spark.sql.connector.expressions.filter.Predicate(
        "IN",
        Array[org.apache.spark.sql.connector.expressions.Expression](
          org.apache.spark.sql.connector.expressions.Expressions.column("k")) ++
          Seq(30L, 10L, 20L).map(v =>
            org.apache.spark.sql.connector.expressions.Expressions.literal(v)
              : org.apache.spark.sql.connector.expressions.Expression)))
      .getOrElse(fail("IN over a long column must parse"))
    assert(in.sorted.toSeq === Seq(10L, 20L, 30L))
    assert(in.excludes(Map("k" -> (31L, 99L))), "all values below min")
    assert(in.excludes(Map("k" -> (1L, 9L))), "all values above max")
    assert(in.excludes(Map("k" -> (11L, 19L))), "values straddle but none inside")
    assert(!in.excludes(Map("k" -> (15L, 25L))), "20 is inside the bounds")
    assert(!in.excludes(Map("k" -> (30L, 30L))), "boundary value is inside")
    assert(!in.excludes(Map.empty), "no stats → never exclude")
    assert(!in.excludes(Map("other" -> (0L, 1L))), "other column's stats are irrelevant")
  }
}
