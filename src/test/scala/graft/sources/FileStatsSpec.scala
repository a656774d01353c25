package graft.sources

import graft.SparkSuite
import graft.store.{FileStats, SnapshotStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Manifest-level file statistics: every commit records a sidecar of
  * per-file row-group stats so query PLANNING never opens data-file
  * footers (one sidecar read per version instead of one remote round
  * trip per file — the O(1)-vs-O(files) planning difference at the
  * 100 TB file count). Pins: sidecar coverage and copy-forward, the
  * zero-footer planning invariant, skip and pushed-aggregate parity
  * with footer planning, sidecar-served pushed aggregates, vacuum
  * lifecycle, and that FileStats is the only footer reader. */
class FileStatsSpec extends SparkSuite {

  import spark.implicits._

  private def freshTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def load(table: String): DataFrame =
    spark.read.format("graft-snapshot").option("path", table).load()

  /** Drop the `statsfile=` line from version `v`'s commit marker, so
    * that version plans from data-file footers. */
  private def stripStats(table: String, v: Long): Unit = {
    val marker = new org.apache.hadoop.fs.Path(s"$table/_commits/$v")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(marker)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val out = fs.create(marker, true) // through the fs API so checksums stay valid
    try out.write(text.linesIterator.filterNot(_.startsWith("statsfile="))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Footer opens performed while `body` plans + runs. */
  private def footerOpens(body: => Unit): Long = {
    val before = SnapshotScanProbe.plannerFooterReads
    body
    SnapshotScanProbe.plannerFooterReads - before
  }

  test("commit writes a sidecar covering every file; delete carries it forward") {
    val t = freshTable("fstats-basic")
    SnapshotStore.commit(spark.range(100).toDF("id").coalesce(2), t)
    val m0 = SnapshotStore.manifest(spark, t, 0L)
    assert(m0.statsFile.nonEmpty, "commit recorded no stats sidecar")
    val sc = FileStats.read(spark, m0.statsFile)
    assert(sc.exact, "store-written parquet should be provably untruncated")
    val files = SnapshotStore.dataFiles(spark, m0)
    assert(files.nonEmpty && files.forall(sc.entries.contains),
      s"sidecar misses files: ${files.filterNot(sc.entries.contains)}")
    assert(sc.entries.values.flatMap(_.groups).map(_.rows).sum === 100L)
    // every entry knows the file's fields and carries id min/max
    sc.entries.values.foreach { e =>
      assert(e.fields === Set("id"))
      e.groups.foreach(g => assert(g.stats.contains("id")))
    }
    // a DV commit reuses the data unchanged → the sidecar carries forward verbatim
    SnapshotStore.deleteCommit(spark, t, Seq("id"), col("id") < 5)
    assert(SnapshotStore.manifest(spark, t, 1L).statsFile === m0.statsFile)
  }

  test("append inherits predecessor blocks verbatim and harvests only staged files") {
    val t = freshTable("fstats-append")
    SnapshotStore.commit(spark.range(0, 10).toDF("id").coalesce(1), t)
    val m0 = SnapshotStore.manifest(spark, t, 0L)
    val (_, blocks0) = FileStats.readBlocks(spark, m0.statsFile)
    SnapshotStore.appendCommit(spark.range(1000, 1010).toDF("id").coalesce(1), t)
    val m1 = SnapshotStore.manifest(spark, t, 1L)
    assert(m1.statsFile.nonEmpty && m1.statsFile != m0.statsFile)
    val (_, blocks1) = FileStats.readBlocks(spark, m1.statsFile)
    // inherited entries are TEXT-identical (copied, not re-harvested)
    blocks0.foreach { case (f, b) => assert(blocks1.get(f).contains(b)) }
    // and the new sidecar covers the full file list
    val files = SnapshotStore.dataFiles(spark, m1)
    assert(files.size === blocks1.size && files.forall(blocks1.contains))
  }

  test("sidecar-covered planning opens ZERO footers; skipping parity with footer planning") {
    val t = freshTable("fstats-plan")
    def rows(lo: Long, hi: Long) = spark.range(lo, hi)
      .selectExpr("id", "concat('n', id) AS name", "IF(id % 3 = 0, NULL, id) AS opt")
      .coalesce(1)
    SnapshotStore.commit(rows(0, 10), t)
    SnapshotStore.appendCommit(rows(1000, 1010), t)
    // global COUNT(*), COUNT(col) and numeric and string MIN/MAX: one
    // pushed aggregate, its answer, and the footers it opened
    def pushedAgg(): (String, org.apache.spark.sql.Row, Long) = {
      var desc: String = null
      var row: org.apache.spark.sql.Row = null
      val opens = footerOpens {
        val q = load(t).agg(count(lit(1)), count(col("id")), min("id"), max("id"),
          min("name"), max("name"))
        desc = SnapshotScanProbe.scans(q).head.description
        row = q.collect().head
      }
      (desc, row, opens)
    }
    val (aggDesc, aggRow, aggOpens) = pushedAgg()
    assert(aggDesc.contains("FOOTER AGGREGATE"), s"aggregate not pushed: $aggDesc")
    assert(aggOpens === 0L, s"sidecar aggregate opened $aggOpens footers")
    assert(aggRow === org.apache.spark.sql.Row(20L, 20L, 0L, 1009L, "n0", "n9"))

    var got: Array[Long] = null
    var desc: String = null
    val opens = footerOpens {
      val q = load(t).filter(col("id") >= 900)
      desc = SnapshotScanProbe.scans(q).head.description
      got = q.collect().map(_.getLong(0)).sorted
    }
    assert(opens === 0L, s"sidecar-covered planning opened $opens footers")
    assert(got.toSeq === (1000L until 1010L).toSeq)
    assert(desc.contains("rowGroups=1/2"), s"stats did not skip the low file: $desc")

    // strip the statsfile line from the head marker → same query plans
    // from footers, pays one open per file, and skips IDENTICALLY
    stripStats(t, 1L)
    var got2: Array[Long] = null
    var desc2: String = null
    val opens2 = footerOpens {
      val q = load(t).filter(col("id") >= 900)
      desc2 = SnapshotScanProbe.scans(q).head.description
      got2 = q.collect().map(_.getLong(0)).sorted
    }
    assert(opens2 === 2L, s"footer fallback should open one footer per file, got $opens2")
    assert(got2.toSeq === got.toSeq)
    assert(desc2.contains("rowGroups=1/2"), s"footer planning skipped differently: $desc2")

    // the pushed aggregate folds the harvested footers to the same answer
    val (aggDesc2, aggRow2, aggOpens2) = pushedAgg()
    assert(aggDesc2.contains("FOOTER AGGREGATE"), s"footer aggregate not pushed: $aggDesc2")
    assert(aggOpens2 === 2L, s"footer aggregate should open one footer per file, got $aggOpens2")
    assert(aggRow2 === aggRow)
    // COUNT(col) over mixed-null groups has no null proof either way
    val mixed = load(t).agg(count(col("opt")))
    assert(!SnapshotScanProbe.scans(mixed).head.description.contains("FOOTER AGGREGATE"))
    assert(mixed.collect().head.getLong(0) === 13L)
  }

  test("a GROUP BY rollup folds from harvested footers like from the sidecar") {
    val t = freshTable("fstats-groupby")
    val nation = graft.sources.Tables.nation(spark, sf())
    SnapshotStore.partitionedCommit(
      nation, t, Seq(graft.store.PartitionSpec.PartField("identity", "n_regionkey")))
    def rollup(): (String, Seq[String], Long) = {
      var desc: String = null
      var got: Seq[String] = null
      val opens = footerOpens {
        val q = load(t).groupBy("n_regionkey").agg(count(lit(1)), count(col("n_name")),
          min("n_nationkey"), max("n_nationkey"), min("n_name"), max("n_name"))
        desc = SnapshotScanProbe.scans(q).head.description
        got = q.collect().map(_.toString).sorted.toSeq
      }
      (desc, got, opens)
    }
    val (desc, got, opens) = rollup()
    assert(desc.contains("FOOTER AGGREGATE [group by n_regionkey"), s"rollup not pushed: $desc")
    assert(opens === 0L, s"sidecar rollup opened $opens footers")
    assert(got === nation.groupBy("n_regionkey").agg(count(lit(1)), count(col("n_name")),
      min("n_nationkey"), max("n_nationkey"), min("n_name"), max("n_name"))
      .collect().map(_.toString).sorted.toSeq)

    stripStats(t, 0L)
    val nFiles = SnapshotStore.dataFiles(spark, SnapshotStore.manifest(spark, t, 0L)).size
    val (desc2, got2, opens2) = rollup()
    assert(desc2.contains("FOOTER AGGREGATE [group by n_regionkey"),
      s"footer rollup not pushed: $desc2")
    assert(opens2 === nFiles.toLong, s"footer rollup should open one footer per file, got $opens2")
    assert(got2 === got)
  }

  test("only graft/store/FileStats.scala reads parquet footers in src/main") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def scalaFiles(d: java.io.File): Seq[java.io.File] = d.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val offenders = scalaFiles(root).filterNot(_.getPath.endsWith("graft/store/FileStats.scala"))
      .filter { f =>
        val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        text.contains("ParquetFileReader") || text.contains("org.apache.parquet.format")
      }
    assert(offenders.isEmpty, s"footer readers outside FileStats: ${offenders.mkString(", ")}")
  }

  test("pushed aggregates fold from the sidecar: numeric and string, zero footer opens") {
    val t = freshTable("fstats-agg")
    val df = Seq((5L, "delta"), (1L, "alpha"), (9L, "omega"), (3L, "beta"))
      .toDF("k", "name")
    SnapshotStore.commit(df.coalesce(2), t)
    SnapshotStore.appendCommit(Seq((12L, "zeta"), (0L, "aard")).toDF("k", "name"), t)

    var row: org.apache.spark.sql.Row = null
    var desc: String = null
    val opens = footerOpens {
      val q = load(t).agg(
        count(lit(1)).as("n"), min("k").as("mn"), max("k").as("mx"),
        min("name").as("smn"), max("name").as("smx"))
      desc = SnapshotScanProbe.scans(q).head.description
      row = q.collect().head
    }
    assert(desc.contains("FOOTER AGGREGATE"), s"aggregate not pushed: $desc")
    assert(opens === 0L, s"sidecar aggregate opened $opens footers")
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getString(3), row.getString(4))
      === ((6L, 0L, 12L, "aard", "zeta")))
  }

  test("vacuum retires unreferenced sidecars and keeps retained ones") {
    val t = freshTable("fstats-vac")
    SnapshotStore.commit(spark.range(10).toDF("id"), t)
    SnapshotStore.commit(spark.range(20).toDF("id"), t)
    SnapshotStore.commit(spark.range(30).toDF("id"), t)
    val keepStats = Seq(1L, 2L).map(v => SnapshotStore.manifest(spark, t, v).statsFile)
    val dropStats = SnapshotStore.manifest(spark, t, 0L).statsFile
    SnapshotStore.vacuum(spark, t, keep = 2)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dropStats)), "aged-out sidecar leaked")
    keepStats.foreach(p =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(p)), s"retained sidecar deleted: $p"))
    // retained versions still plan footer-free
    assert(footerOpens(load(t).filter(col("id") > 25).collect()) === 0L)
  }

  test("maintenance commits (compact, zorder) publish fresh sidecars — planning stays footer-free") {
    val t = freshTable("fstats-maint")
    SnapshotStore.commit(spark.range(0, 5000).toDF("id")
      .withColumn("x", col("id") % 100).withColumn("y", col("id") % 77)
      .repartition(6), t)
    graft.ops.Bucketing.compactCommit(spark, t, targetBytes = 1L << 30)
    val mc = SnapshotStore.manifest(spark, t, 1L)
    assert(mc.op === "compact" && mc.statsFile.nonEmpty, s"compact lost the sidecar: $mc")
    assert(footerOpens(load(t).filter(col("id") > 4990).collect()) === 0L)
    graft.ops.Zorder.optimizeCommit(spark, t, Seq("x", "y"), bits = 6, numFiles = 4)
    val mz = SnapshotStore.manifest(spark, t, 2L)
    assert(mz.op === "zorder" && mz.statsFile.nonEmpty, s"zorder lost the sidecar: $mz")
    var n = 0L
    assert(footerOpens { n = load(t).count() } === 0L)
    assert(n === 5000L)
  }
}
