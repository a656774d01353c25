package graft.store

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Deletion-vector FILE SCOPES: each DV records which data files
  * existed when its delete committed (`_scope.txt` in the DV dir), so
  * APPENDS are legal while DVs are live — a re-appended key is a new
  * row in a file no earlier DV covers, not a resurrected one. Pins the
  * engine read path, the DSv2 scan, time travel, the change feed,
  * mirroring, and the legacy (unscoped) refusal. */
class DvScopedAppendSpec extends SparkSuite {

  import spark.implicits._

  private def fresh(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("id").as[Long].collect().toSeq.sorted

  test("append after delete: re-appended keys are NEW rows, not resurrected ones") {
    val t = fresh("dvscope")
    SnapshotStore.commit(spark.range(0, 100).toDF("id").repartition(3), t) // v0
    SnapshotStore.deleteCommit(spark, t, Seq("id"), col("id").isin(7L, 9L)) // v1
    // append 7 back (plus a genuinely new key): the DV at v1 covers only
    // v0's files, so the appended 7 must SURVIVE while v0's 7 stays dead
    SnapshotStore.appendCommit(Seq(7L, 200L).toDF("id").coalesce(1), t) // v2

    val got = ids(SnapshotStore.readVersion(spark, t, 2))
    assert(got === ((0L until 100L).filterNot(Set(7L, 9L)) ++ Seq(7L, 200L)).sorted)
    // time travel unchanged: v1 still has neither 7 nor 9
    assert(!ids(SnapshotStore.readVersion(spark, t, 1)).exists(Set(7L, 9L)))
    assert(ids(SnapshotStore.readVersion(spark, t, 0)) === (0L until 100L))
  }

  test("delete after append covers the appended files too; earlier scopes unchanged") {
    val t = fresh("dvscope2")
    SnapshotStore.commit(spark.range(0, 50).toDF("id").repartition(2), t) // v0
    SnapshotStore.deleteCommit(spark, t, Seq("id"), col("id") === 5L)     // v1
    SnapshotStore.appendCommit(Seq(5L, 60L, 61L).toDF("id").coalesce(1), t) // v2
    // second delete: scope = ALL current files, so it kills the
    // re-appended 5 AND the base 20; the earlier DV still spares v2's files
    SnapshotStore.deleteCommit(spark, t, Seq("id"), col("id").isin(5L, 20L, 61L)) // v3

    val got = ids(SnapshotStore.readVersion(spark, t, 3))
    val expect = ((0L until 50L).filterNot(Set(5L, 20L)) :+ 60L).sorted
    assert(got === expect)
    // v2 unchanged by the later delete
    assert(ids(SnapshotStore.readVersion(spark, t, 2)) ===
      ((0L until 50L).filterNot(_ == 5L) ++ Seq(5L, 60L, 61L)).sorted)
  }

  test("DSv2 scan agrees with the engine read on every version of a delete+append chain") {
    val t = fresh("dvscope3")
    SnapshotStore.commit(spark.range(0, 80).toDF("id").repartition(3), t)
    SnapshotStore.deleteCommit(spark, t, Seq("id"), col("id") % 10 === 0)
    SnapshotStore.appendCommit(Seq(0L, 30L, 99L).toDF("id").coalesce(1), t)
    SnapshotStore.deleteCommit(spark, t, Seq("id"), col("id") === 99L)
    (0L to 3L).foreach { v =>
      val engine = ids(SnapshotStore.readVersion(spark, t, v))
      val dsv2 = ids(spark.read.format("graft-snapshot")
        .option("path", t).option("version", v.toString).load())
      assert(dsv2 === engine, s"DSv2 vs engine mismatch at v$v")
    }
    // head content is the timeline result: 0 survives (re-appended after
    // its delete), other multiples of 10 dead, 99 appended then deleted
    assert(ids(spark.read.format("graft-snapshot").option("path", t).load()) ===
      ((1L until 80L).filterNot(i => i % 10 == 0) ++ Seq(0L, 30L)).sorted)
  }

  test("composite-key scoped DVs probe correctly through the DSv2 readers") {
    val t = fresh("dvscope4")
    val base = spark.range(0, 40)
      .select(col("id"), concat(lit("u"), (col("id") % 4).cast("string")).as("grp"))
    SnapshotStore.commit(base.repartition(2), t)
    SnapshotStore.deleteCommit(spark, t, Seq("id", "grp"), col("id") < 8)
    SnapshotStore.appendCommit(
      Seq((3L, "u3"), (100L, "u0")).toDF("id", "grp").coalesce(1), t)
    val got = spark.read.format("graft-snapshot").option("path", t).load()
      .select("id", "grp").as[(Long, String)].collect().toSeq.sorted
    val expect = ((8L until 40L).map(i => (i, s"u${i % 4}")) ++
      Seq((3L, "u3"), (100L, "u0"))).sorted
    assert(got === expect)
  }

  test("legacy DV without a scope file still refuses appends") {
    val t = fresh("dvscope5")
    SnapshotStore.commit(spark.range(0, 20).toDF("id"), t)
    SnapshotStore.deleteCommit(spark, t, Seq("id"), col("id") === 3L)
    // simulate a pre-scope DV: strip the sidecar
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dv = SnapshotStore.manifest(spark, t, 1).deletes.head
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dv/_scope.txt"), false))
    val e = intercept[UnsupportedOperationException] {
      SnapshotStore.appendCommit(Seq(50L).toDF("id"), t)
    }
    assert(e.getMessage.contains("legacy deletion vector"))
  }

  test("change feed: appends over live DVs stream as 'insert' deltas, not images") {
    val t = fresh("dvscope6")
    SnapshotStore.commit(spark.range(0, 30).toDF("id").repartition(2), t) // v0
    val q = spark.readStream.format("graft-snapshot")
      .option("path", t).option("changeFeed", "true").load()
      .writeStream.format("memory").queryName("dvscope_cdf").outputMode("append").start()
    try {
      q.processAllAvailable()
      def rows = spark.table("dvscope_cdf").collect()
      def ct(r: org.apache.spark.sql.Row) = r.getString(r.fieldIndex("_change_type"))
      def cv(r: org.apache.spark.sql.Row) = r.getLong(r.fieldIndex("_commit_version"))
      assert(rows.count(ct(_) == "snapshot") === 30)

      SnapshotStore.deleteCommit(spark, t, Seq("id"), col("id") === 4L) // v1
      SnapshotStore.appendCommit(Seq(4L, 77L).toDF("id").coalesce(1), t) // v2
      q.processAllAvailable()
      val del = rows.filter(cv(_) == 1L)
      assert(del.length === 1 && del.forall(ct(_) == "delete"))
      val ins = rows.filter(cv(_) == 2L)
      assert(ins.length === 2, s"append over live DVs must stream ONLY the delta: ${ins.length}")
      assert(ins.forall(ct(_) == "insert"))
      assert(ins.map(r => r.getLong(r.fieldIndex("id"))).sorted.toSeq === Seq(4L, 77L))
    } finally q.stop()
  }

  test("change feed: a fresh stream's base image over a delete+append chain is exact") {
    val t = fresh("dvscope7")
    SnapshotStore.commit(spark.range(0, 25).toDF("id").repartition(2), t) // v0 image
    SnapshotStore.deleteCommit(spark, t, Seq("id"), col("id") === 6L)     // v1
    SnapshotStore.appendCommit(Seq(6L, 90L).toDF("id").coalesce(1), t)    // v2
    // anchor past the deltas: the image base is v0, then v1+v2 replay —
    // net content must equal the head read
    val q = spark.readStream.format("graft-snapshot")
      .option("path", t).option("changeFeed", "true").load()
      .writeStream.format("memory").queryName("dvscope_cdf2").outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("dvscope_cdf2").collect()
      val byType = rows.groupBy(r => r.getString(r.fieldIndex("_change_type")))
        .view.mapValues(_.length).toMap
      assert(byType.getOrElse("snapshot", 0) === 25)
      assert(byType.getOrElse("delete", 0) === 1)
      assert(byType.getOrElse("insert", 0) === 2)
    } finally q.stop()
  }

  test("MERGE INTO composes with live scoped DVs: partial materialization, reinserts survive") {
    val wh = java.nio.file.Files.createTempDirectory("dvscope-mrg").toString
    val cat = "dvm_" + java.util.UUID.randomUUID.toString.take(8).replace("-", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val t = s"$wh/m/kv"
      val base = spark.range(0, 60).select(col("id"),
        concat(lit("v"), col("id").cast("string")).as("v"))
      // range-partitioned → disjoint ids per file
      SnapshotStore.commit(base.repartitionByRange(3, col("id")), t)          // v0
      SnapshotStore.deleteCommit(spark, t, Seq("id"), col("id").isin(5L, 25L, 45L)) // v1
      val v1Files = SnapshotStore.dataFiles(spark, SnapshotStore.manifest(spark, t, 1))
      val fs = new org.apache.hadoop.fs.Path(t)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val mtime0 = v1Files.map(f =>
        f -> fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getModificationTime).toMap

      // touches only the middle file's range: update 30, REINSERT the
      // DV-dead 25 (NOT MATCHED — its only row is deleted), insert 100
      Seq((30L, "upd"), (25L, "back"), (100L, "new")).toDF("id", "v")
        .createOrReplaceTempView("dv_mrg_src")
      spark.sql(
        s"""MERGE INTO $cat.m.kv t USING dv_mrg_src s ON t.id = s.id
            WHEN MATCHED THEN UPDATE SET t.v = s.v
            WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")

      val m2 = SnapshotStore.manifest(spark, t, 2)
      assert(m2.op === "merge")
      assert(m2.deletes.nonEmpty && m2.keyCols === Seq("id"),
        "merge must carry the live DVs forward for the surviving files")
      // untouched files never moved
      val survivors = m2.files.toSet.intersect(v1Files.toSet)
      assert(survivors.nonEmpty && survivors.size < v1Files.size)
      survivors.foreach(f => assert(
        fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getModificationTime === mtime0(f)))

      val got = spark.table(s"$cat.m.kv").select("id", "v")
        .as[(Long, String)].collect().toMap
      assert(got.size === 59) // 60 - 3 deleted + reinserted 25 + inserted 100
      assert(!got.contains(5L) && !got.contains(45L), "untouched files keep their DVs")
      assert(got(25L) === "back", "a reinserted previously-deleted key survives the merge")
      assert(got(30L) === "upd")
      assert(got(100L) === "new")
      assert(got(29L) === "v29", "carry-over rows intact")
      // deletes still work afterwards
      SnapshotStore.deleteCommit(spark, t, Seq("id"), col("id") === 30L)
      assert(!spark.table(s"$cat.m.kv").select("id").as[Long].collect().contains(30L))
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  test("incremental small-file compaction composes with scoped DVs") {
    val t = fresh("dvscope-csf")
    SnapshotStore.commit(spark.range(0, 200000).toDF("id").coalesce(1), t) // big (~1.6 MB)
    (0 until 3).foreach { i =>
      SnapshotStore.appendCommit(
        spark.range(1000 + i * 10, 1010 + i * 10).toDF("id").coalesce(1), t)
    }
    // DV covering BOTH generations (scope = all current files)
    SnapshotStore.deleteCommit(spark, t, Seq("id"), col("id").isin(3L, 1001L, 1011L))
    val before = ids(SnapshotStore.read(spark, t))
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bigFile = SnapshotStore.dataFiles(spark, SnapshotStore.manifest(spark, t, 0)).head
    val bigMtime = fs.getFileStatus(new org.apache.hadoop.fs.Path(bigFile)).getModificationTime

    val (rewritten, linked, after, v) = graft.ops.Bucketing.compactSmallFilesCommit(
      spark, t, smallBytes = 16L * 1024, targetBytes = 1L << 30)
    assert(rewritten === 3 && linked === 1 && after === 1) // 3 tiny → 1 merged
    val mV = SnapshotStore.manifest(spark, t, v)
    assert(mV.deletes.nonEmpty, "compaction of the small tail keeps the big file's DVs")
    assert(fs.getFileStatus(new org.apache.hadoop.fs.Path(bigFile)).getModificationTime
      === bigMtime, "the big file must re-link untouched")
    assert(ids(SnapshotStore.read(spark, t)) === before,
      "incremental compaction over DVs must be content-neutral")
    // DSv2 agrees; merged files are DV-materialized, big file still probes
    assert(ids(spark.read.format("graft-snapshot").option("path", t).load()) === before)
    // a later re-append of a merged-away deleted key is a new row
    SnapshotStore.appendCommit(Seq(1001L).toDF("id").coalesce(1), t)
    assert(ids(SnapshotStore.read(spark, t)).count(_ == 1001L) === 1)
  }

  test("vacuum collects an aged-out DV dir with its scope; retained chain reads whole") {
    val t = fresh("dvscope9")
    SnapshotStore.commit(spark.range(0, 20).toDF("id"), t)             // v0
    SnapshotStore.deleteCommit(spark, t, Seq("id"), col("id") === 1L)  // v1
    SnapshotStore.appendCommit(Seq(1L).toDF("id").coalesce(1), t)      // v2
    SnapshotStore.commit(SnapshotStore.readVersion(spark, t, 2), t)    // v3 rewrite
    SnapshotStore.commit(spark.range(0, 5).toDF("id"), t)              // v4
    SnapshotStore.vacuum(spark, t, keep = 2)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dvRoot = new org.apache.hadoop.fs.Path(s"$t/_deletes")
    assert(!fs.exists(dvRoot) || fs.listStatus(dvRoot).isEmpty,
      "aged-out DV dirs (and their scope files) should be collected")
    assert(ids(SnapshotStore.readVersion(spark, t, 3)) ===
      ((0L until 20L).filterNot(_ == 1L) :+ 1L).sorted)
  }
}
