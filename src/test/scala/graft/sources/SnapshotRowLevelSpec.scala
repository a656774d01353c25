package graft.sources

import graft.SparkSuite
import graft.store.SnapshotStore
import org.apache.spark.sql.functions._

/** SQL row-level commands (MERGE INTO / UPDATE / DELETE) over snapshot
  * catalog tables: copy-on-write over TOUCHED files only, carry-over
  * rows preserved, untouched files never rewritten, optimistic-
  * concurrency refusal, and the `_file` metadata column they ride on. */
class SnapshotRowLevelSpec extends SparkSuite {

  private def withCatalog(test: (String, String) => Unit): Unit = {
    val wh = java.nio.file.Files.createTempDirectory("rowlevel-wh").toString
    val cat = "grl_" + java.util.UUID.randomUUID.toString.take(8).replace("-", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try test(cat, wh)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  private def fileOf(p: String) = new org.apache.hadoop.fs.Path(p)
  private def fsys = new org.apache.hadoop.fs.Path("/")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("_file metadata column reads like the parquet source's") {
    val table = java.nio.file.Files.createTempDirectory("rl-file").toString + "/t"
    SnapshotStore.commit(
      graft.sources.Tables.nation(spark, sf()).repartition(3), table)
    val got = spark.read.format("graft-snapshot").option("path", table).load()
      .select(col("n_nationkey"), col("_file")).collect()
    assert(got.length === 25)
    val files = SnapshotStore.dataFiles(spark,
      SnapshotStore.manifest(spark, table, 0L)).map(f => fileOf(f).getName).toSet
    got.foreach { r =>
      assert(files.contains(fileOf(r.getString(1)).getName),
        s"_file points outside the snapshot: ${r.getString(1)}")
    }
    assert(got.map(_.getString(1)).distinct.length === files.size,
      "every part file should appear in _file")
    val desc = SnapshotScanProbe.scans(spark.read.format("graft-snapshot")
      .option("path", table).load().select(col("n_nationkey"), col("_file"))).head.description
    assert(desc.contains("vectorized"), s"a _file scan should stay columnar: $desc")

    // merge-on-read deletes, key column not projected: the decoder reads
    // the key behind the payload and serves _file after it, for batches
    // passed through whole and batches compacted around deleted rows
    val dvTable = java.nio.file.Files.createTempDirectory("rl-file-dv").toString + "/t"
    SnapshotStore.commit(spark.range(0, 20000)
      .selectExpr("id", "concat('p-', id) AS payload")
      .repartitionByRange(4, col("id")), dvTable)
    SnapshotStore.deleteCommit(spark, dvTable, Seq("id"),
      col("id") < 5000 && pmod(col("id"), lit(3)) === 0)
    val dvRead = spark.read.format("graft-snapshot").option("path", dvTable).load()
      .select(col("payload"), col("_file"))
    // collect() runs THIS queryExecution, whose scan metrics are read below
    val gotDv = dvRead.collect().map(r => (r.getString(0), fileOf(r.getString(1)).getName)).toSet
    val dvScan = SnapshotScanProbe.scans(dvRead).head
    assert(dvScan.description.contains("vectorized") && dvScan.description.contains("dvKeys="),
      s"a DV scan with _file should stay columnar: ${dvScan.description}")
    val live = SnapshotStore.read(spark, dvTable).select("payload")
    val dvFiles = SnapshotStore.dataFiles(spark,
      SnapshotStore.manifest(spark, dvTable, SnapshotStore.currentVersion(spark, dvTable).get))
    val want = dvFiles.flatMap { f =>
      spark.read.parquet(f).join(live, Seq("payload")).select("payload").collect()
        .map(r => (r.getString(0), fileOf(f).getName))
    }.toSet
    assert(live.count() === 20000 - 1667)
    assert(gotDv === want, "payload and _file must match the snapshot's live rows and their files")
    Seq("dvPassthroughBatches", "dvCompactedBatches").foreach { k =>
      assert(dvScan.exec.metrics(k).value > 0, s"$k should count batches of this read")
    }
  }

  test("MERGE INTO: copy-on-write over touched files only; untouched bytes never move") {
    withCatalog { (cat, wh) =>
      val table = s"$wh/facts/orders"
      // range-partitioned → disjoint o_orderkey per file, so a merge on
      // a narrow key range touches a strict subset of files
      val orders = graft.sources.Tables.orders(spark, sf())
      SnapshotStore.commit(orders.repartitionByRange(6, col("o_orderkey")), table)
      val v0Files = SnapshotStore.dataFiles(spark, SnapshotStore.manifest(spark, table, 0L))
      val mtime0 = v0Files.map(f => f -> fsys.getFileStatus(fileOf(f)).getModificationTime).toMap

      val lo = orders.agg(min(col("o_orderkey"))).head().getLong(0)
      spark.range(0, 3).selectExpr(
        s"id + $lo AS o_orderkey", "'PATCHED' AS o_priority")
        .createOrReplaceTempView("rl_src")

      spark.sql(
        s"""MERGE INTO $cat.facts.orders t USING rl_src s
            ON t.o_orderkey = s.o_orderkey
            WHEN MATCHED THEN UPDATE SET t.o_orderpriority = s.o_priority
            WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderstatus, o_totalprice,
              o_orderdate, o_orderpriority)
            VALUES (s.o_orderkey, -1L, 'X', 0.0D, NULL, s.o_priority)""")

      val m1 = SnapshotStore.manifest(spark, table, 1L)
      assert(m1.op === "merge" && m1.files.nonEmpty)
      val survivors = m1.files.toSet.intersect(v0Files.toSet)
      assert(survivors.nonEmpty, "untouched files must survive in the manifest")
      assert(survivors.size < v0Files.size, "at least one file must be replaced")
      assert(v0Files.toSet.diff(m1.files.toSet).size <= 2,
        s"a 3-key merge should touch few files, replaced=${v0Files.toSet.diff(m1.files.toSet).size}")
      survivors.foreach { f =>
        assert(fsys.getFileStatus(fileOf(f)).getModificationTime === mtime0(f),
          s"merge rewrote an untouched file: $f")
      }
      // semantics: updates landed, carry-over rows intact, nothing lost
      val got = spark.sql(s"SELECT * FROM $cat.facts.orders")
      assert(got.count() === orders.count(), "row count must be stable for a pure-update merge")
      assert(got.filter(col("o_orderpriority") === "PATCHED").count() === 3)
      val expectOther = orders.filter(col("o_orderkey") > lo + 2)
        .agg(sum(col("o_totalprice"))).head().getDouble(0)
      assert(math.abs(got.filter(col("o_orderkey") > lo + 2)
        .agg(sum(col("o_totalprice"))).head().getDouble(0) - expectOther) < 1e-6,
        "carry-over rows of touched files must pass through unchanged")
      // time travel still serves the pre-merge snapshot
      assert(SnapshotStore.readVersion(spark, table, 0L)
        .filter(col("o_orderpriority") === "PATCHED").count() === 0)
    }
  }

  test("MERGE INTO: NOT MATCHED inserts append; source-only keys arrive") {
    withCatalog { (cat, wh) =>
      val table = s"$wh/dims/nation"
      SnapshotStore.commit(graft.sources.Tables.nation(spark, sf()), table)
      spark.sql("SELECT CAST(900 AS INT) AS k, 'NEWLAND' AS nm UNION ALL SELECT CAST(901 AS INT), 'OTHERLAND'")
        .createOrReplaceTempView("rl_nation_src")
      spark.sql(
        s"""MERGE INTO $cat.dims.nation t USING rl_nation_src s
            ON t.n_nationkey = s.k
            WHEN MATCHED THEN UPDATE SET t.n_name = s.nm
            WHEN NOT MATCHED THEN INSERT (n_nationkey, n_name, n_regionkey)
            VALUES (s.k, s.nm, CAST(-1 AS INT))""")
      val got = spark.sql(s"SELECT * FROM $cat.dims.nation")
      assert(got.count() === 27)
      assert(got.filter(col("n_regionkey") === -1).count() === 2)
    }
  }

  test("UPDATE and DELETE SQL run copy-on-write; history records them") {
    withCatalog { (cat, wh) =>
      val table = s"$wh/dims/nation"
      SnapshotStore.commit(
        graft.sources.Tables.nation(spark, sf()).repartitionByRange(4, col("n_nationkey")),
        table)
      spark.sql(s"UPDATE $cat.dims.nation SET n_name = 'REDACTED' WHERE n_nationkey = 7")
      assert(spark.sql(
        s"SELECT n_name FROM $cat.dims.nation WHERE n_nationkey = 7").head().getString(0)
        === "REDACTED")
      assert(spark.sql(s"SELECT count(*) AS c FROM $cat.dims.nation").head().getLong(0) === 25)

      spark.sql(s"DELETE FROM $cat.dims.nation WHERE n_regionkey = 2")
      assert(spark.sql(
        s"SELECT count(*) AS c FROM $cat.dims.nation WHERE n_regionkey = 2").head().getLong(0) === 0)
      assert(spark.sql(s"SELECT count(*) AS c FROM $cat.dims.nation").head().getLong(0) === 20)

      val ops = SnapshotStore.history(spark, table).orderBy("version")
        .collect().map(_.getString(2)).toSeq
      assert(ops === Seq("create", "update", "delete-cow"), s"history: $ops")
      // the copy-on-write delete REWROTE touched files (no DV lines)
      assert(SnapshotStore.manifest(spark, table, 2L).deletes.isEmpty)
    }
  }

  test("MERGE is refused only for LEGACY unscoped DVs, naming compaction") {
    withCatalog { (cat, wh) =>
      val table = s"$wh/dims/nation"
      SnapshotStore.commit(graft.sources.Tables.nation(spark, sf()), table)
      SnapshotStore.deleteCommit(spark, table, Seq("n_nationkey"), col("n_nationkey") < 3)
      // strip the scope sidecar → a pre-scope table-wide DV: those
      // compose wrong with partial rewrites and must still refuse
      // (scoped-DV MERGE semantics are pinned in DvScopedAppendSpec)
      val dv = SnapshotStore.manifest(spark, table, 1L).deletes.head
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dv/_scope.txt"), false))
      spark.sql("SELECT CAST(1 AS INT) AS k, 'X' AS nm").createOrReplaceTempView("rl_dv_src")
      val e = intercept[Exception] {
        spark.sql(
          s"""MERGE INTO $cat.dims.nation t USING rl_dv_src s
              ON t.n_nationkey = s.k
              WHEN MATCHED THEN UPDATE SET t.n_name = s.nm""")
      }
      def msgs(t: Throwable): String =
        if (t == null) "" else Option(t.getMessage).getOrElse("") + " | " + msgs(t.getCause)
      assert(msgs(e).contains("compact"), s"expected compaction guidance: ${msgs(e).take(300)}")
    }
  }

  test("change feed streams copy-on-write commits as remove+insert file deltas, not images") {
    withCatalog { (cat, wh) =>
      val table = s"$wh/dims/nation"
      SnapshotStore.commit(
        graft.sources.Tables.nation(spark, sf()).repartitionByRange(4, col("n_nationkey")),
        table)
      val q = spark.readStream.format("graft-snapshot")
        .option("path", table).option("changeFeed", "true").load()
        .writeStream.format("memory").queryName("graft_cdf_cow").outputMode("append").start()
      try {
        q.processAllAvailable()
        def rows = spark.table("graft_cdf_cow").collect()
        def ct(r: org.apache.spark.sql.Row) = r.getString(r.fieldIndex("_change_type"))
        def cv(r: org.apache.spark.sql.Row) = r.getLong(r.fieldIndex("_commit_version"))
        assert(rows.length === 25 && rows.forall(ct(_) == "snapshot"))

        spark.sql(s"UPDATE $cat.dims.nation SET n_name = 'PATCHED' WHERE n_nationkey = 11")
        q.processAllAvailable()
        val delta = rows.filter(cv(_) == 1L)
        val removes = delta.filter(ct(_) == "remove")
        val inserts = delta.filter(ct(_) == "insert")
        assert(delta.forall(r => ct(r) == "remove" || ct(r) == "insert"),
          "a copy-on-write commit must NOT stream a table image")
        assert(removes.length === inserts.length, "carry-over rows must appear on both sides")
        assert(removes.length < 25, s"only the touched file's rows stream: ${removes.length}")
        assert(removes.length >= 1 && inserts.exists(r =>
          r.getString(r.fieldIndex("n_name")) == "PATCHED"))
        // state − removes + inserts == the table head
        def key(r: org.apache.spark.sql.Row) =
          (r.getInt(r.fieldIndex("n_nationkey")), r.getString(r.fieldIndex("n_name")))
        val base = rows.filter(cv(_) == 0L).map(key).toSet
        val evolved = base -- removes.map(key) ++ inserts.map(key)
        val head = spark.sql(s"SELECT n_nationkey, n_name FROM $cat.dims.nation").collect()
          .map(r => (r.getInt(0), r.getString(1))).toSet
        assert(evolved === head, "remove+insert algebra must reproduce the head")
      } finally q.stop()
    }
  }

  test("row-granular CDF: a CoW MERGE streams exactly the changed rows, not touched files") {
    withCatalog { (cat, wh) =>
      import spark.implicits._
      val t = s"$wh/facts/kv"
      // ONE file of 1000 rows: the file-granular feed would emit ~2000
      // rows for any 3-row merge; the row-granular sidecar must emit 5
      SnapshotStore.commit(
        spark.range(0, 1000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").coalesce(1), t)
      Seq((1L, 10.0), (2L, -1.0), (5000L, 7.0)).toDF("k", "nv")
        .createOrReplaceTempView("rl_cdf_src")
      spark.sql(
        s"""MERGE INTO $cat.facts.kv t USING rl_cdf_src s ON t.k = s.k
            WHEN MATCHED AND s.nv < 0 THEN DELETE
            WHEN MATCHED THEN UPDATE SET v = s.nv
            WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.nv)""")
      val m = SnapshotStore.manifest(spark, t, 1L)
      assert(m.op === "merge" && m.rowChanges.nonEmpty,
        "the CoW merge must publish its row-changes sidecar")
      val feed = spark.read.format("graft-snapshot").option("path", t)
        .option("changeFeed", "true").option("startingVersion", "1").load().collect()
      def ct(r: org.apache.spark.sql.Row) = r.getString(r.fieldIndex("_change_type"))
      def kv(r: org.apache.spark.sql.Row) =
        (r.getLong(r.fieldIndex("k")), r.getDouble(r.fieldIndex("v")))
      val removes = feed.filter(ct(_) == "remove").map(kv).toSet
      val inserts = feed.filter(ct(_) == "insert").map(kv).toSet
      assert(feed.length === 4,
        s"update=pre+post, delete=pre, insert=post → 4 change rows, got ${feed.length}")
      assert(removes === Set((1L, 1.0), (2L, 2.0)),
        s"pre-images: the updated and deleted rows' OLD values: $removes")
      assert(inserts === Set((1L, 10.0), (5000L, 7.0)),
        s"post-images: the updated row's NEW value and the inserted row: $inserts")
      // consumer algebra still reconstructs the head exactly
      val head = SnapshotStore.read(spark, t).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      val base = SnapshotStore.readVersion(spark, t, 0L).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert((base -- removes ++ inserts) === head)

      // an UPDATE that changes nothing emits NO change rows
      spark.sql(s"UPDATE $cat.facts.kv SET v = v WHERE k < 10")
      val feed2 = spark.read.format("graft-snapshot").option("path", t)
        .option("changeFeed", "true").option("startingVersion", "2").load().collect()
      assert(feed2.isEmpty,
        s"a no-op rewrite changed zero rows — the feed must say so: ${feed2.length} rows")
    }
  }

  test("MERGE INTO works on a path-based CREATE TABLE USING graft-snapshot table") {
    val table = java.nio.file.Files.createTempDirectory("rl-pathmerge").toString + "/t"
    SnapshotStore.commit(graft.sources.Tables.nation(spark, sf()), table)
    spark.sql("DROP TABLE IF EXISTS graft_rl_nation")
    spark.sql(s"CREATE TABLE graft_rl_nation USING `graft-snapshot` OPTIONS (path '$table')")
    try {
      spark.sql("SELECT CAST(3 AS INT) AS k, 'RENAMED' AS nm").createOrReplaceTempView("rl_path_src")
      spark.sql(
        """MERGE INTO graft_rl_nation t USING rl_path_src s
           ON t.n_nationkey = s.k
           WHEN MATCHED THEN UPDATE SET t.n_name = s.nm""")
      assert(spark.sql(
        "SELECT n_name FROM graft_rl_nation WHERE n_nationkey = 3").head().getString(0)
        === "RENAMED")
      assert(SnapshotStore.manifest(spark, table, 1L).op === "merge")
    } finally spark.sql("DROP TABLE IF EXISTS graft_rl_nation")
  }

  test("a FRESH change-feed stream over a mixed history anchors at the last image and replays deltas") {
    withCatalog { (cat, wh) =>
      val table = s"$wh/dims/nation"
      SnapshotStore.commit(
        graft.sources.Tables.nation(spark, sf()).repartitionByRange(4, col("n_nationkey")),
        table)                                                              // v0 image
      SnapshotStore.appendCommit(
        graft.sources.Tables.nation(spark, sf())
          .select(col("n_nationkey") + 700, col("n_name"), col("n_regionkey"))
          .toDF("n_nationkey", "n_name", "n_regionkey")
          .limit(4).coalesce(1), table)                                     // v1 insert delta
      spark.sql(s"UPDATE $cat.dims.nation SET n_name = 'X' WHERE n_nationkey = 2") // v2 cow
      // stream starts FRESH with the head a cow commit: must anchor at
      // the v0 image and replay v1+v2 as deltas (not images)
      val q = spark.readStream.format("graft-snapshot")
        .option("path", table).option("changeFeed", "true").load()
        .writeStream.format("memory").queryName("graft_cdf_anchor2").outputMode("append").start()
      try {
        q.processAllAvailable()
        val rows = spark.table("graft_cdf_anchor2").collect()
        def ct(r: org.apache.spark.sql.Row) = r.getString(r.fieldIndex("_change_type"))
        def cv(r: org.apache.spark.sql.Row) = r.getLong(r.fieldIndex("_commit_version"))
        assert(rows.filter(cv(_) == 0L).forall(ct(_) == "snapshot"))
        assert(rows.filter(cv(_) == 0L).length === 25)
        assert(rows.filter(cv(_) == 1L).forall(ct(_) == "insert"))
        assert(rows.filter(cv(_) == 1L).length === 4)
        val v2 = rows.filter(cv(_) == 2L)
        assert(v2.nonEmpty && v2.forall(r => ct(r) == "remove" || ct(r) == "insert"))
        // applying the whole feed reproduces the head
        def key(r: org.apache.spark.sql.Row) =
          (r.getInt(r.fieldIndex("n_nationkey")), r.getString(r.fieldIndex("n_name")))
        var state = rows.filter(cv(_) == 0L).map(key).toSet
        state = state ++ rows.filter(r => cv(r) == 1L).map(key)
        state = state -- v2.filter(ct(_) == "remove").map(key) ++
          v2.filter(ct(_) == "insert").map(key)
        val head = spark.sql(s"SELECT n_nationkey, n_name FROM $cat.dims.nation")
          .collect().map(r => (r.getInt(0), r.getString(1))).toSet
        assert(state === head)
      } finally q.stop()
    }
  }
}
