package graft.sources

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.SparkSuite
import graft.store.{PartitionSpec, SnapshotStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pruning counts belong to the scan that pruned: a later scan, on this
  * thread or another, never changes what an earlier Dataset's plan
  * reports, and a scan of an unpartitioned table reports no partition
  * pruning whatever ran before it. */
class ScanPruningCountsSpec extends SparkSuite {

  private lazy val (partitioned, plain) = {
    val root = java.nio.file.Files.createTempDirectory("scan-counts").toString
    val orders = Tables.orders(spark, sf())
    SnapshotStore.partitionedCommit(orders, s"$root/part",
      Seq(PartitionSpec.PartField("months", "o_orderdate")))
    SnapshotStore.commit(orders, s"$root/plain")
    (s"$root/part", s"$root/plain")
  }

  /** Files of the months table whose month lies before `month`. */
  private def filesBefore(month: String): Int =
    SnapshotStore.manifest(spark, partitioned, 0L).files.count(
      _.split('/').find(_.startsWith("__gp0=")).exists(_.stripPrefix("__gp0=") < month))

  /** Count of rows from `month`-01 on, run to completion. */
  private def countFrom(table: String, month: String): DataFrame = {
    val q = spark.read.format("graft-snapshot").option("path", table).load()
      .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf(s"$month-01 00:00:00")))
      .agg(count(lit(1)))
    q.collect()
    q
  }

  private def partitionPruned(q: DataFrame): Int =
    SnapshotScanProbe.scans(q).map(_.partitionPrunedFiles).sum

  /** A pruning scan, then an unpartitioned scan: (the first scan's count,
    * the second scan's count, the first scan's count read again). */
  private def pair(month: String): (Int, Int, Int) = {
    val pruning = countFrom(partitioned, month)
    val first = partitionPruned(pruning)
    val flat = countFrom(plain, month)
    (first, partitionPruned(flat), partitionPruned(pruning))
  }

  test("an unpartitioned scan reports 0 after a pruning scan, which keeps its count") {
    val want = filesBefore("1997-01")
    assert(want > 0, "the cut must leave prunable month dirs")
    assert(pair("1997-01") === ((want, 0, want)))
  }

  test("two threads each read their own scans' counts") {
    val months = Seq("1996-01", "1999-01")
    val want = months.map(m => (filesBefore(m), 0, filesBefore(m)))
    assert(want.map(_._1).distinct.size === 2, "the two cuts must prune different file counts")
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val got = Await.result(Future.traverse(months)(m => Future(pair(m))), 5.minutes)
      assert(got === want)
    } finally pool.shutdown()
  }
}
