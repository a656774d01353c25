package graft.sources

import graft.SparkSuite
import graft.store.SnapshotStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DSv2 connector properties the dt_dsv2_scan oracle can't see: plan-
  * level column pruning, footer-stats file skipping, time travel through
  * reader options, deletion vectors inside the partition readers, and
  * the pure-SQL CREATE TABLE surface. */
class SnapshotDsv2Spec extends SparkSuite {

  private def freshTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def load(table: String): DataFrame =
    spark.read.format("graft-snapshot").option("path", table).load()

  test("connector read equals SnapshotStore.read, including after a second commit") {
    val table = freshTable("dsv2-basic")
    val orders = graft.sources.Tables.orders(spark, sf())
    SnapshotStore.commit(orders, table)
    assert(load(table).collect().toSet === SnapshotStore.read(spark, table).collect().toSet)

    SnapshotStore.commit(orders.filter(col("o_orderkey") % 2 === 0), table)
    assert(load(table).count() === SnapshotStore.read(spark, table).count())
    // explicit version pins the old snapshot
    val v0 = spark.read.format("graft-snapshot")
      .option("path", table).option("version", "0").load()
    assert(v0.count() === orders.count())
  }

  test("asOf option resolves the wall-clock version like readAsOf") {
    val table = freshTable("dsv2-asof")
    val orders = graft.sources.Tables.orders(spark, sf())
    SnapshotStore.commit(orders.limit(10), table)
    val betweenCommits = System.currentTimeMillis()
    Thread.sleep(5)
    SnapshotStore.commit(orders.limit(20), table)
    val asOf = spark.read.format("graft-snapshot")
      .option("path", table).option("asOf", betweenCommits.toString).load()
    assert(asOf.count() === 10, "asOf did not pin the first commit")
  }

  test("column pruning reaches the scan; filters report as pushed") {
    val table = freshTable("dsv2-prune")
    SnapshotStore.commit(graft.sources.Tables.orders(spark, sf()), table)
    val q = load(table)
      .filter(col("o_totalprice") > 400000.0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val scan = SnapshotScanProbe.scans(q).head.exec.scan
    assert(scan.readSchema().fieldNames.toSet === Set("o_orderkey", "o_totalprice"),
      s"projection not pruned: ${scan.readSchema()}")
    assert(scan.description().contains("o_totalprice"),
      s"price filter not reported pushed: ${scan.description()}")
    // residual semantics: values still exactly right
    val expect = graft.sources.Tables.orders(spark, sf())
      .filter(col("o_totalprice") > 400000.0)
      .select(col("o_orderkey"), col("o_totalprice")).collect().toSet
    assert(q.collect().toSet === expect)
  }

  test("footer stats skip files the predicate excludes") {
    val table = freshTable("dsv2-skip")
    // range-partitioned commit → disjoint o_orderkey ranges per file
    SnapshotStore.commit(
      graft.sources.Tables.orders(spark, sf()).repartitionByRange(4, col("o_orderkey")), table)
    val q = load(table).filter(col("o_orderkey") === 17L)
    val desc = SnapshotScanProbe.scans(q).head.description
    val files = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc)
      .getOrElse(fail(s"no file counts in scan description: $desc"))
    assert(files.group(2).toInt >= 4, s"expected >=4 part files: $desc")
    assert(files.group(1).toInt === 1, s"point lookup should keep exactly 1 file: $desc")
    assert(q.count() === 1)
    // an excluded-everywhere predicate keeps zero files but still answers
    val none = load(table).filter(col("o_orderkey") === -5L)
    val noneDesc = SnapshotScanProbe.scans(none).head.description
    assert("files=(\\d+)/".r.findFirstMatchIn(noneDesc).get.group(1).toInt === 0)
    assert(none.count() === 0)
  }

  test("vectorized path serves DV-free AND DV scans (columnar merge-on-read)") {
    val table = freshTable("dsv2-vec")
    val orders = graft.sources.Tables.orders(spark, sf())
    SnapshotStore.commit(orders, table)
    val clean = load(table).select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
    assert(SnapshotScanProbe.scans(clean).head.description.contains("vectorized"),
      s"DV-free scan should be columnar: ${SnapshotScanProbe.scans(clean).head.description}")
    // vectorized values identical to the engine read (timestamps included)
    assert(clean.collect().toSet ===
      SnapshotStore.read(spark, table)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate")).collect().toSet)

    SnapshotStore.deleteCommit(spark, table, Seq("o_orderkey"), col("o_orderkey") < 10)
    val withDv = load(table)
    assert(SnapshotScanProbe.scans(withDv).head.description.contains("vectorized"),
      s"atomic-typed DV scan should stay columnar: ${SnapshotScanProbe.scans(withDv).head.description}")
    assert(withDv.count() === orders.filter(col("o_orderkey") >= 10).count())
    // full row values through the compacting reader, not just counts
    assert(withDv.collect().toSet ===
      SnapshotStore.read(spark, table).collect().toSet)
    // a projection that PRUNES the key column still probes (key rides
    // the decode schema, served batches drop it)
    assert(load(table).select(col("o_orderpriority")).count() === withDv.count())
  }

  test("one big file splits into row-group partitions; skipping prunes within the file") {
    val table = freshTable("dsv2-rg")
    val dataDir = s"$table/v=0"
    // ONE file, many small row groups (128 KB block size)
    graft.sources.Tables.lineitem(spark, sf("sf0.01"))
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      .sort(col("l_orderkey")) // row groups get disjoint key ranges
      .coalesce(1)
      .write.option("parquet.block.size", 128 * 1024).mode("overwrite").parquet(dataDir)
    SnapshotStore.publishMarker(spark, table, 0L)

    val full = load(table)
    val desc = SnapshotScanProbe.scans(full).head.description
    val rg = "rowGroups=(\\d+)/(\\d+)".r.findFirstMatchIn(desc)
      .getOrElse(fail(s"no rowGroups in description: $desc"))
    assert(rg.group(2).toInt > 4, s"expected many row groups in one file: $desc")
    assert(desc.contains("files=1/1"), desc)
    // the scan fans out across the file's row groups — split, then
    // BIN-PACKED to task size (never more tasks than groups, never one
    // task for a many-group file)
    assert(full.rdd.getNumPartitions > 1, "one big file must split across tasks")
    assert(full.rdd.getNumPartitions <= rg.group(2).toInt)
    assert(full.count() ===
      graft.sources.Tables.lineitem(spark, sf("sf0.01")).count())

    // a point lookup keeps a strict subset of row groups WITHIN the file
    val point = load(table).filter(col("l_orderkey") === 17L)
    val prg = "rowGroups=(\\d+)/(\\d+)".r
      .findFirstMatchIn(SnapshotScanProbe.scans(point).head.description).get
    assert(prg.group(1).toInt < prg.group(2).toInt,
      s"point lookup should prune row groups: ${SnapshotScanProbe.scans(point).head.description}")
    assert(point.count() ===
      graft.sources.Tables.lineitem(spark, sf("sf0.01"))
        .filter(col("l_orderkey") === 17L).count())
  }

  test("deletion vectors apply inside the partition readers") {
    val table = freshTable("dsv2-dv")
    val orders = graft.sources.Tables.orders(spark, sf())
    SnapshotStore.commit(orders, table)
    SnapshotStore.deleteCommit(spark, table, Seq("o_orderkey"),
      pmod(col("o_orderkey"), lit(3)) === 0)
    val got = load(table)
    assert(got.filter(col("o_orderkey") % 3 === 0).count() === 0, "deleted keys visible")
    assert(got.count() === SnapshotStore.read(spark, table).count())
    // pruning a projection that drops the key column still applies DVs
    val pruned = load(table).select(col("o_orderpriority"))
    assert(pruned.count() === got.count())
  }

  test("DV readers decode INT96 timestamps (the engine writer's default physical type)") {
    val table = freshTable("dsv2-int96")
    // events.event_time is a true TimestampType column -> Spark writes
    // INT96 under the default outputTimestampType
    val events = graft.sources.Tables.events(spark, sf())
      .select(col("event_id"), col("user_id"), col("event_time"))
    SnapshotStore.commit(events, table)
    SnapshotStore.deleteCommit(spark, table, Seq("event_id"), col("event_id") % 5 === 0)
    val viaConnector = load(table) // columnar merge-on-read
    assert(SnapshotScanProbe.scans(viaConnector).head.description.contains("vectorized"))
    val expect = SnapshotStore.read(spark, table)
      .select(col("event_id"), col("event_time")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    val got = viaConnector.select(col("event_id"), col("event_time")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    assert(got === expect, "INT96 timestamps decoded wrong through the DV reader")
  }

  test("schema evolution: files carrying NONE of the requested columns contribute null rows") {
    val table = freshTable("dsv2-evolve")
    val gen1 = graft.sources.Tables.nation(spark, sf()).select(col("n_nationkey"))
    SnapshotStore.commit(gen1, table) // v0 files: only n_nationkey
    // v1: a schema-EVOLVING append — the union schema gains n_name,
    // gen-1 files carry none of it (the manifest pins the union; the
    // scan must serve gen-1 files from an empty projection)
    SnapshotStore.appendCommit(
      graft.sources.Tables.nation(spark, sf())
        .select(col("n_nationkey") + 1000, col("n_name"))
        .toDF("n_nationkey", "n_name"),
      table)
    // selecting ONLY the evolved column: gen-1 files have an empty
    // projection and must contribute all-null rows, not crash
    val names = load(table).select(col("n_name")) // merged (union) schema
    val got = names.collect().map(r => Option(r.getString(0)))
    assert(got.count(_.isEmpty) === 25, s"gen-1 rows should be null: ${got.toSeq.take(5)}")
    assert(got.count(_.isDefined) === 25, "gen-2 rows lost")
    val desc = SnapshotScanProbe.scans(names).head.description
    assert(desc.contains("vectorized"), s"the decoder null-fills in batches: $desc")
  }

  test("COUNT/MIN/MAX push down to parquet footers — metadata-only aggregates") {
    val table = freshTable("dsv2-agg")
    val orders = graft.sources.Tables.orders(spark, sf())
    SnapshotStore.commit(orders.repartition(4), table)
    val q = load(table).agg(
      count(lit(1)).alias("n"),
      min(col("o_totalprice")).alias("mn"),
      max(col("o_totalprice")).alias("mx"),
      max(col("o_orderkey")).alias("mk"))
    val desc = SnapshotScanProbe.scans(q).head.description
    assert(desc.contains("FOOTER AGGREGATE"), s"aggregate not pushed: $desc")
    val r = q.collect()(0)
    val expect = orders.agg(
      count(lit(1)), min(col("o_totalprice")), max(col("o_totalprice")),
      max(col("o_orderkey"))).collect()(0)
    assert(r === expect, s"footer aggregate diverged: $r vs $expect")

    // NOT pushed when it would be wrong: a filter forces the real plan
    val filtered = load(table).filter(col("o_orderkey") > 10).agg(count(lit(1)).alias("n"))
    assert(!SnapshotScanProbe.scans(filtered).head.description.contains("FOOTER AGGREGATE"))
    assert(filtered.collect()(0).getLong(0) ===
      orders.filter(col("o_orderkey") > 10).count())
    // ...and with deletion vectors live rows must be counted for real
    SnapshotStore.deleteCommit(spark, table, Seq("o_orderkey"), col("o_orderkey") < 5)
    val dv = load(table).agg(count(lit(1)).alias("n"))
    assert(!SnapshotScanProbe.scans(dv).head.description.contains("FOOTER AGGREGATE"))
    assert(dv.collect()(0).getLong(0) === orders.filter(col("o_orderkey") >= 5).count())
  }

  test("string MIN/MAX pushes down only when footer stats are provably exact") {
    val orders = graft.sources.Tables.orders(spark, sf())
    // engine-written snapshot: its sidecar records untruncated stats
    // (`x=1`) — the aggregate answers from metadata
    val table = freshTable("dsv2-stragg")
    SnapshotStore.commit(orders.repartition(3), table)
    val q = load(table).agg(
      min(col("o_orderpriority")).alias("mn"),
      max(col("o_orderpriority")).alias("mx"),
      count(lit(1)).alias("n"))
    assert(SnapshotScanProbe.scans(q).head.description.contains("FOOTER AGGREGATE"),
      s"exact string stats should push down: ${SnapshotScanProbe.scans(q).head.description}")
    val r = q.collect()(0)
    val expect = orders.agg(
      min(col("o_orderpriority")), max(col("o_orderpriority")), count(lit(1))).collect()(0)
    assert(r === expect, s"string footer aggregate diverged: $r vs $expect")

    // TRUNCATED stats (writer configured a truncate length), published
    // without a sidecar or the manifest's stats=exact tag: nothing
    // proves the bounds are values → decline, real plan answers
    val tTrunc = freshTable("dsv2-strtrunc")
    val dataDir = s"$tTrunc/v=0"
    orders.select(col("o_orderkey"), col("o_orderpriority"))
      .coalesce(1)
      .write.option("parquet.statistics.truncate.length", "3")
      .mode("overwrite").parquet(dataDir)
    SnapshotStore.publishMarker(spark, tTrunc, 0L)
    val qt = load(tTrunc).agg(min(col("o_orderpriority")).alias("mn"))
    assert(!SnapshotScanProbe.scans(qt).head.description.contains("FOOTER AGGREGATE"),
      s"truncated string stats must decline pushdown: ${SnapshotScanProbe.scans(qt).head.description}")
    assert(qt.collect()(0).getString(0) ===
      orders.agg(min(col("o_orderpriority"))).collect()(0).getString(0))
  }

  test("write path: mode(overwrite) commits an atomic new version; engine reads it back") {
    val table = freshTable("dsv2-write")
    val orders = graft.sources.Tables.orders(spark, sf())
    SnapshotStore.commit(orders, table) // v0
    // note: a NARROWER frame would be legal too — V2 output resolution
    // pads missing nullable columns to the table schema
    val replacement = orders.filter(col("o_orderkey") < 100)
    replacement.write.format("graft-snapshot").option("path", table)
      .mode("overwrite").save() // v1 via the CAS commit protocol
    assert(SnapshotStore.versions(spark, table) === Seq(0L, 1L))
    // the ENGINE path reads the connector-written snapshot bit-exactly
    assert(SnapshotStore.read(spark, table).collect().toSet === replacement.collect().toSet)
    // and the connector reads its own write
    assert(load(table).count() === replacement.count())
    // time travel still reaches the pre-overwrite snapshot
    assert(SnapshotStore.readVersion(spark, table, 0L).count() === orders.count())
  }

  test("write path: mode(append) commits O(new-files) — existing bytes never move") {
    val table = freshTable("dsv2-append")
    val nation = graft.sources.Tables.nation(spark, sf())
    SnapshotStore.commit(nation, table) // v0 (dir-granular)
    val v0Files = SnapshotStore.dataFiles(spark, SnapshotStore.manifest(spark, table, 0L))
    val fsys = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v0Mtimes = v0Files.map(f =>
      f -> fsys.getFileStatus(new org.apache.hadoop.fs.Path(f)).getModificationTime).toMap

    nation.select(col("n_nationkey") + 100, col("n_name"), col("n_regionkey"))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .coalesce(2)
      .write.format("graft-snapshot").option("path", table).mode("append").save()

    val m1 = SnapshotStore.manifest(spark, table, 1L)
    assert(m1.op === "append" && m1.files.nonEmpty, s"append must publish file actions: $m1")
    assert(v0Files.toSet.subsetOf(m1.files.toSet), "append must link predecessor files")
    v0Files.foreach { f =>
      assert(fsys.getFileStatus(new org.apache.hadoop.fs.Path(f)).getModificationTime
        === v0Mtimes(f), s"append rewrote an existing file: $f")
    }
    assert(load(table).count() === 50)
    assert(SnapshotStore.read(spark, table).count() === 50, "engine read sees the append")
    assert(SnapshotStore.readVersion(spark, table, 0L).count() === 25, "time travel intact")
    // appended rows really are there (not a double image)
    assert(load(table).agg(max(col("n_nationkey"))).head().getInt(0) ===
      nation.agg(max(col("n_nationkey"))).head().getInt(0) + 100)
  }

  test("write path: append over live SCOPED deletion vectors keeps both correct") {
    val table = freshTable("dsv2-appenddv")
    val nation = graft.sources.Tables.nation(spark, sf())
    SnapshotStore.commit(nation, table)
    SnapshotStore.deleteCommit(spark, table, Seq("n_nationkey"), col("n_nationkey") < 5)
    // scoped DVs: the DSv2 append commits, the DV keeps applying to the
    // ORIGINAL files only — a re-appended deleted key survives
    nation.filter(col("n_nationkey") < 3)
      .write.format("graft-snapshot").option("path", table).mode("append").save()
    val got = spark.read.format("graft-snapshot").option("path", table).load()
    assert(got.count() === 20 + 3)
    assert(got.filter(col("n_nationkey") < 5).count() === 3,
      "only the re-appended keys are visible below the deleted range")
  }

  test("pure-SQL surface: INSERT INTO through the catalog appends file-granular") {
    val wh = java.nio.file.Files.createTempDirectory("dsv2-whins").toString
    spark.conf.set("spark.sql.catalog.gsnapins", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsnapins.warehouse", wh)
    try {
      val nation = graft.sources.Tables.nation(spark, sf())
      SnapshotStore.commit(nation, s"$wh/dims/nation")
      spark.sql(
        """INSERT INTO gsnapins.dims.nation
           SELECT CAST(n_nationkey + 500 AS INT), n_name, n_regionkey
           FROM gsnapins.dims.nation""")
      assert(spark.sql("SELECT count(*) AS c FROM gsnapins.dims.nation").head().getLong(0) === 50)
      assert(SnapshotStore.manifest(spark, s"$wh/dims/nation", 1L).op === "append")
      // second INSERT INTO stacks on the file-granular head
      spark.sql("INSERT INTO gsnapins.dims.nation VALUES (CAST(9999 AS INT), 'ATLANTIS', CAST(0 AS INT))")
      assert(spark.sql("SELECT count(*) AS c FROM gsnapins.dims.nation").head().getLong(0) === 51)
      assert(spark.sql(
        "SELECT n_name FROM gsnapins.dims.nation WHERE n_nationkey = 9999").head().getString(0)
        === "ATLANTIS")
    } finally {
      spark.conf.unset("spark.sql.catalog.gsnapins.warehouse")
      spark.conf.unset("spark.sql.catalog.gsnapins")
    }
  }

  test("change feed: an append commit streams ONLY the new rows as 'insert'") {
    val table = freshTable("dsv2-cdfins")
    val nation = graft.sources.Tables.nation(spark, sf())
    SnapshotStore.commit(nation, table) // v0
    val q = spark.readStream.format("graft-snapshot")
      .option("path", table).option("changeFeed", "true").load()
      .writeStream.format("memory").queryName("graft_cdf_ins").outputMode("append").start()
    try {
      q.processAllAvailable()
      def rows = spark.table("graft_cdf_ins").collect()
      def ct(r: org.apache.spark.sql.Row) = r.getString(r.fieldIndex("_change_type"))
      def cv(r: org.apache.spark.sql.Row) = r.getLong(r.fieldIndex("_commit_version"))
      assert(rows.length === 25 && rows.forall(ct(_) == "snapshot"))

      SnapshotStore.appendCommit(
        nation.select(col("n_nationkey") + 100, col("n_name"), col("n_regionkey"))
          .toDF("n_nationkey", "n_name", "n_regionkey")
          .filter(col("n_regionkey") === 2).coalesce(1), table) // v1: 5 new rows
      q.processAllAvailable()
      val ins = rows.filter(cv(_) == 1L)
      assert(ins.length === 5, s"append batch must carry ONLY the delta: ${ins.length}")
      assert(ins.forall(ct(_) == "insert"), "append batches are 'insert', not a new image")
      assert(ins.forall(r => r.getInt(r.fieldIndex("n_nationkey")) >= 100))
      assert(rows.length === 30, "no image replay on append")
    } finally q.stop()
  }

  test("change feed: a checkpoint left behind vacuum retention fails loudly, not empty") {
    val table = freshTable("dsv2-cdfvac")
    val ckpt = java.nio.file.Files.createTempDirectory("dsv2-vacckpt").toString
    val out = java.nio.file.Files.createTempDirectory("dsv2-vacout").toString
    val nation = graft.sources.Tables.nation(spark, sf())
    SnapshotStore.commit(nation, table) // v0
    def start() = spark.readStream.format("graft-snapshot")
      .option("path", table).option("changeFeed", "true").load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    q1.processAllAvailable(); q1.stop() // checkpoint now at v0
    // the table advances 3 versions and vacuum collects all but the last 2
    SnapshotStore.commit(nation.limit(10), table) // v1
    SnapshotStore.commit(nation.limit(5), table)  // v2
    SnapshotStore.commit(nation.limit(2), table)  // v3
    SnapshotStore.vacuum(spark, table, keep = 2)  // v1 is gone; checkpoint needs it
    val q2 = start()
    val e = intercept[Exception] { q2.processAllAvailable() }
    try {
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      val all = msgs(e).mkString(" | ")
      assert(all.contains("vacuum retention"),
        s"retention breach must fail loudly with the fix named: $all")
    } finally q2.stop()
  }

  test("pure-SQL surface: INSERT OVERWRITE through the catalog table") {
    val table = freshTable("dsv2-sqlwrite")
    SnapshotStore.commit(
      graft.sources.Tables.nation(spark, sf()).select("n_nationkey", "n_name"), table)
    spark.sql("DROP TABLE IF EXISTS graft_dsv2_wnation")
    spark.sql(
      s"CREATE TABLE graft_dsv2_wnation USING `graft-snapshot` OPTIONS (path '$table')")
    try {
      spark.sql(
        """INSERT OVERWRITE graft_dsv2_wnation
           SELECT CAST(n_nationkey + 100 AS INT) AS n_nationkey, upper(n_name) AS n_name
           FROM graft_dsv2_wnation""")
      val got = SnapshotStore.read(spark, table)
      assert(got.agg(min(col("n_nationkey"))).head().getInt(0) === 100)
      assert(SnapshotStore.versions(spark, table).size === 2)
    } finally spark.sql("DROP TABLE IF EXISTS graft_dsv2_wnation")
  }

  test("TableCatalog plugin: namespaced tables, native VERSION/TIMESTAMP AS OF, INSERT OVERWRITE") {
    val wh = java.nio.file.Files.createTempDirectory("dsv2-wh").toString
    spark.conf.set("spark.sql.catalog.graftsnap", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftsnap.warehouse", wh)
    try {
      val nation = graft.sources.Tables.nation(spark, sf())
      SnapshotStore.commit(nation, s"$wh/dims/nation") // v0: 25 rows
      val betweenCommits = System.currentTimeMillis()
      Thread.sleep(5)
      SnapshotStore.commit(nation.filter(col("n_regionkey") < 2), s"$wh/dims/nation") // v1: 10

      assert(spark.sql("SELECT count(*) AS c FROM graftsnap.dims.nation")
        .head().getLong(0) === 10)
      assert(spark.sql("SELECT count(*) AS c FROM graftsnap.dims.nation VERSION AS OF 0")
        .head().getLong(0) === 25)
      // a far-future instant resolves to the newest commit
      assert(spark.sql(
        "SELECT count(*) AS c FROM graftsnap.dims.nation TIMESTAMP AS OF '2999-01-01'")
        .head().getLong(0) === 10)
      // between-commit wall-clock resolution (micros, per the catalog API)
      val cat = spark.sessionState.catalogManager.catalog("graftsnap")
        .asInstanceOf[SnapshotCatalog]
      val ident = org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("dims"), "nation")
      val pinned = cat.loadTable(ident, betweenCommits * 1000L)
      assert(pinned.asInstanceOf[SnapshotTable].name().endsWith("dims/nation"))

      assert(spark.sql("SHOW TABLES IN graftsnap.dims").collect()
        .map(_.getString(1)).toSeq === Seq("nation"))

      // SQL write through the catalog identifier: a CAS-committed v2
      spark.sql(
        """INSERT OVERWRITE graftsnap.dims.nation
           SELECT n_nationkey, n_name, n_regionkey FROM graftsnap.dims.nation VERSION AS OF 0
           WHERE n_regionkey = 4""")
      assert(SnapshotStore.versions(spark, s"$wh/dims/nation") === Seq(0L, 1L, 2L))
      assert(spark.sql("SELECT count(*) AS c FROM graftsnap.dims.nation").head().getLong(0) ===
        nation.filter(col("n_regionkey") === 4).count())

      // bare CREATE TABLE (with an explicit USING) seeds an empty v0 too
      spark.sql("CREATE TABLE graftsnap.dims.fresh (id BIGINT) USING parquet")
      assert(SnapshotStore.versions(spark, s"$wh/dims/fresh") === Seq(0L))
      assert(spark.sql("SELECT * FROM graftsnap.dims.fresh").count() === 0)
    } finally {
      spark.conf.unset("spark.sql.catalog.graftsnap.warehouse")
      spark.conf.unset("spark.sql.catalog.graftsnap")
    }
  }

  test("change feed: each commit streams as one micro-batch — images and delete keys") {
    val table = freshTable("dsv2-cdf")
    val nation = graft.sources.Tables.nation(spark, sf())
    SnapshotStore.commit(nation, table) // v0
    val q = spark.readStream.format("graft-snapshot")
      .option("path", table).option("changeFeed", "true").load()
      .writeStream.format("memory").queryName("graft_cdf").outputMode("append").start()
    try {
      q.processAllAvailable()
      def rows = spark.table("graft_cdf").collect()
      def ct(r: org.apache.spark.sql.Row) = r.getString(r.fieldIndex("_change_type"))
      def cv(r: org.apache.spark.sql.Row) = r.getLong(r.fieldIndex("_commit_version"))
      val b0 = rows
      assert(b0.length === 25, s"initial image should be the full v0: ${b0.length}")
      assert(b0.forall(r => ct(r) == "snapshot" && cv(r) == 0L))

      // v1: delete commit → ONLY the delta keys stream, non-keys null
      SnapshotStore.deleteCommit(spark, table, Seq("n_nationkey"), col("n_regionkey") === 0)
      q.processAllAvailable()
      val dels = rows.filter(ct(_) == "delete")
      assert(dels.length === nation.filter(col("n_regionkey") === 0).count())
      assert(dels.forall(cv(_) == 1L))
      assert(dels.forall(r => r.isNullAt(r.fieldIndex("n_name"))),
        "delete batches carry keys only")

      // v2: rewrite → a fresh snapshot image (10 live rows)
      SnapshotStore.commit(nation.filter(col("n_regionkey") < 2), table)
      q.processAllAvailable()
      val v2 = rows.filter(cv(_) == 2L)
      assert(v2.length === 10 && v2.forall(ct(_) == "snapshot"))
    } finally q.stop()
  }

  test("change feed: a delete commit at the head still anchors with the base image") {
    val table = freshTable("dsv2-cdfanchor")
    val nation = graft.sources.Tables.nation(spark, sf())
    SnapshotStore.commit(nation, table) // v0
    SnapshotStore.deleteCommit(spark, table, Seq("n_nationkey"), col("n_regionkey") === 1) // v1 = head
    // a FRESH stream starting at a delete-commit head must replay the
    // v0 image first — otherwise consumers get an unanchored delete
    val q = spark.readStream.format("graft-snapshot")
      .option("path", table).option("changeFeed", "true").load()
      .writeStream.format("memory").queryName("graft_cdf_anchor").outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("graft_cdf_anchor").collect()
      val images = rows.filter(_.getString(rows.head.fieldIndex("_change_type")) == "snapshot")
      val dels = rows.filter(_.getString(rows.head.fieldIndex("_change_type")) == "delete")
      assert(images.length === 25, s"base image missing: ${images.length}")
      assert(images.forall(_.getLong(rows.head.fieldIndex("_commit_version")) === 0L))
      assert(dels.length === nation.filter(col("n_regionkey") === 1).count())
    } finally q.stop()
  }

  test("change feed via catalog .table() is refused with the path-based recipe") {
    val wh = java.nio.file.Files.createTempDirectory("dsv2-cdfcat").toString
    spark.conf.set("spark.sql.catalog.gsnapcdf", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsnapcdf.warehouse", wh)
    try {
      SnapshotStore.commit(graft.sources.Tables.nation(spark, sf()), s"$wh/dims/nation")
      val e = intercept[Exception] {
        val q = spark.readStream.option("changeFeed", "true").table("gsnapcdf.dims.nation")
          .writeStream.format("memory").queryName("graft_cdfcat").outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      assert(e.getMessage.contains("path-based"),
        s"expected the path-based guidance, got: ${e.getMessage.take(200)}")
    } finally {
      spark.conf.unset("spark.sql.catalog.gsnapcdf.warehouse")
      spark.conf.unset("spark.sql.catalog.gsnapcdf")
    }
  }

  test("change feed: checkpoint restart resumes after the last processed version") {
    val table = freshTable("dsv2-cdfck")
    val ckpt = java.nio.file.Files.createTempDirectory("dsv2-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("dsv2-cdfout").toString
    val nation = graft.sources.Tables.nation(spark, sf())
    SnapshotStore.commit(nation, table) // v0
    def start() = spark.readStream.format("graft-snapshot")
      .option("path", table).option("changeFeed", "true").load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(out).count() === 25) // v0 image processed

    SnapshotStore.commit(nation.filter(col("n_regionkey") === 4), table) // v1
    val q2 = start()
    try {
      q2.processAllAvailable()
      val rows = spark.read.parquet(out)
      // v0 must NOT replay: the checkpoint already committed it
      assert(rows.filter(col("_commit_version") === 0L).count() === 25,
        "v0 image lost or replayed")
      assert(rows.filter(col("_commit_version") === 1L).count() ===
        nation.filter(col("n_regionkey") === 4).count())
      assert(rows.count() === 25 + nation.filter(col("n_regionkey") === 4).count(),
        "restart emitted duplicate batches")
    } finally q2.stop()
  }

  test("pure-SQL surface: CREATE TABLE ... USING graft-snapshot") {
    val table = freshTable("dsv2-sql")
    SnapshotStore.commit(graft.sources.Tables.nation(spark, sf()), table)
    spark.sql("DROP TABLE IF EXISTS graft_dsv2_nation")
    spark.sql(
      s"CREATE TABLE graft_dsv2_nation USING `graft-snapshot` OPTIONS (path '$table')")
    try {
      val n = spark.sql(
        "SELECT count(*) AS c FROM graft_dsv2_nation WHERE n_regionkey < 3").collect()(0).getLong(0)
      val expect = graft.sources.Tables.nation(spark, sf())
        .filter(col("n_regionkey") < 3).count()
      assert(n === expect)
    } finally spark.sql("DROP TABLE IF EXISTS graft_dsv2_nation")
  }

  test("CTAS creates v0 atomically; RTAS replaces; bare CREATE seeds an empty v0") {
    val wh = java.nio.file.Files.createTempDirectory("dsv2-ctas").toString
    spark.conf.set("spark.sql.catalog.gsnapctas", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsnapctas.warehouse", wh)
    try {
      SnapshotStore.commit(graft.sources.Tables.nation(spark, sf()), s"$wh/dims/nation")
      spark.sql(
        """CREATE TABLE gsnapctas.dims.big_nations AS
           SELECT n_nationkey, n_name FROM gsnapctas.dims.nation WHERE n_regionkey >= 2""")
      // v0 exists, listed, time-travelable, engine-readable
      assert(SnapshotStore.versions(spark, s"$wh/dims/big_nations") === Seq(0L))
      assert(SnapshotStore.manifest(spark, s"$wh/dims/big_nations", 0L).op === "ctas")
      val expect = graft.sources.Tables.nation(spark, sf())
        .filter(col("n_regionkey") >= 2).count()
      assert(spark.sql("SELECT count(*) AS c FROM gsnapctas.dims.big_nations")
        .head().getLong(0) === expect)
      assert(spark.sql("SHOW TABLES IN gsnapctas.dims").collect()
        .map(_.getString(1)).toSet === Set("nation", "big_nations"))
      assert(spark.sql(
        "SELECT count(*) AS c FROM gsnapctas.dims.big_nations VERSION AS OF 0")
        .head().getLong(0) === expect)

      // duplicate CTAS fails (table exists)
      val dup = intercept[Exception] {
        spark.sql("CREATE TABLE gsnapctas.dims.big_nations AS SELECT 1 AS x")
      }
      assert(dup.getMessage.toLowerCase.contains("already exists"), dup.getMessage)

      // RTAS: atomic full rewrite as v1; v0 still time travels
      spark.sql(
        """CREATE OR REPLACE TABLE gsnapctas.dims.big_nations AS
           SELECT n_nationkey, n_name FROM gsnapctas.dims.nation WHERE n_regionkey = 0""")
      assert(SnapshotStore.versions(spark, s"$wh/dims/big_nations") === Seq(0L, 1L))
      assert(spark.sql("SELECT count(*) AS c FROM gsnapctas.dims.big_nations")
        .head().getLong(0) ===
        graft.sources.Tables.nation(spark, sf()).filter(col("n_regionkey") === 0).count())
      assert(spark.sql(
        "SELECT count(*) AS c FROM gsnapctas.dims.big_nations VERSION AS OF 0")
        .head().getLong(0) === expect)

      // bare CREATE TABLE seeds an EMPTY v0 with the declared schema —
      // the pure-SQL birth the streaming sink / INSERT INTO need
      spark.sql("CREATE TABLE gsnapctas.dims.bare (id BIGINT, name STRING)")
      assert(SnapshotStore.versions(spark, s"$wh/dims/bare") === Seq(0L))
      assert(spark.sql("SELECT * FROM gsnapctas.dims.bare").count() === 0)
      spark.sql("INSERT INTO gsnapctas.dims.bare VALUES (1L, 'first')")
      assert(spark.sql("SELECT name FROM gsnapctas.dims.bare WHERE id = 1")
        .head().getString(0) === "first")
      // duplicate bare CREATE fails like duplicate CTAS
      val dup2 = intercept[Exception] {
        spark.sql("CREATE TABLE gsnapctas.dims.bare (id BIGINT)")
      }
      assert(dup2.getMessage.toLowerCase.contains("already exists"), dup2.getMessage)
      // bucketed bare CREATE records the layout; the FIRST append routes
      spark.sql(
        "CREATE TABLE gsnapctas.dims.bucketed (k BIGINT, v STRING) " +
          "PARTITIONED BY (bucket(4, k))")
      val m0 = SnapshotStore.manifest(spark, s"$wh/dims/bucketed", 0L)
      assert(m0.bucketCols === Seq("k") && m0.bucketN === 4)
      spark.sql("INSERT INTO gsnapctas.dims.bucketed VALUES (10L, 'a'), (11L, 'b')")
      val m1 = SnapshotStore.manifest(spark, s"$wh/dims/bucketed",
        SnapshotStore.currentVersion(spark, s"$wh/dims/bucketed").get)
      assert(m1.bucketCols === Seq("k") && m1.bucketN === 4,
        "bucket layout must survive the first append")
      assert(spark.sql("SELECT sum(k) FROM gsnapctas.dims.bucketed").head().getLong(0) === 21L)
      // INSERT INTO the CTAS-born table works (file-granular append on v1)
      spark.sql("INSERT INTO gsnapctas.dims.big_nations VALUES (CAST(777 AS INT), 'NOWHERE')")
      assert(spark.sql(
        "SELECT n_name FROM gsnapctas.dims.big_nations WHERE n_nationkey = 777")
        .head().getString(0) === "NOWHERE")
    } finally {
      spark.conf.unset("spark.sql.catalog.gsnapctas.warehouse")
      spark.conf.unset("spark.sql.catalog.gsnapctas")
    }
  }

  test("composite-key deletion vectors probe correctly through both reader paths") {
    val table = freshTable("dsv2-dvmulti")
    val orders = graft.sources.Tables.orders(spark, sf())
    SnapshotStore.commit(orders, table)
    // (long, string) composite key: exercises the UnsafeRow byte-image
    // probe with a mixed-width layout (UTF8String + primitive)
    SnapshotStore.deleteCommit(spark, table, Seq("o_custkey", "o_orderstatus"),
      pmod(col("o_custkey"), lit(7)) === 0 && col("o_orderstatus") === "F")
    val expect = orders.filter(
      !(pmod(col("o_custkey"), lit(7)) === 0 && col("o_orderstatus") === "F"))
    // engine read (broadcast anti join) and connector read (reader-side
    // probe) agree with the plain filter
    assert(SnapshotStore.read(spark, table).count() === expect.count())
    val viaConnector = load(table)
    assert(viaConnector.count() === expect.count())
    assert(viaConnector.filter(
      pmod(col("o_custkey"), lit(7)) === 0 && col("o_orderstatus") === "F").count() === 0)
    // projection that prunes BOTH key columns still applies the DV
    // (keys decode internally, rows project down)
    val pruned = load(table).select(col("o_orderkey"))
    assert(pruned.count() === expect.count())
    // exact values, not just counts
    assert(load(table).select(col("o_orderkey")).collect().map(_.getLong(0)).sorted.toSeq
      === expect.select(col("o_orderkey")).collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("DV scans publish custom task metrics: deleted rows, pass/compact batches") {
    val table = freshTable("dsv2-dvmx")
    SnapshotStore.commit(spark.range(0, 20000).selectExpr("id", "id * 2 AS v"), table)
    SnapshotStore.deleteCommit(spark, table, Seq("id"), pmod(col("id"), lit(4)) === 0)
    val df = load(table)
    // collect() runs THIS queryExecution (count() would build its own
    // plan whose scan metrics we could not reach)
    assert(df.collect().length === 15000)
    val scanExec = SnapshotScanProbe.scans(df).head.exec
    // declared on the scan...
    assert(scanExec.scan.supportedCustomMetrics().map(_.name()).toSet ===
      Set("dvDeletedRows", "dvPassthroughBatches", "dvCompactedBatches"))
    // ...and populated after execution (the count() above ran the scan)
    val metric = scanExec.metrics.get("dvDeletedRows")
      .getOrElse(fail(s"dvDeletedRows not in ${scanExec.metrics.keySet}"))
    assert(metric.value === 5000, s"expected 5000 DV-dropped rows, got ${metric.value}")
  }

  test("columnar DV reader: all-deleted batches skip, nulls compact, non-atomic types fall back") {
    val table = freshTable("dsv2-dvcol")
    // disjoint id ranges per file + nullable string payload: deleting a
    // whole file's range makes every batch of that file ALL-deleted
    // (the skip branch); the scattered delete makes mixed batches (the
    // compact branch, null strings included)
    val base = spark.range(0, 40000)
      .selectExpr("id",
        "CASE WHEN id % 5 = 0 THEN NULL ELSE concat('doc-', id) END AS payload",
        "CAST(id % 97 AS double) AS score")
      .repartitionByRange(4, col("id"))
    SnapshotStore.commit(base, table)
    SnapshotStore.deleteCommit(spark, table, Seq("id"),
      col("id") < 10000 || pmod(col("id"), lit(3)) === 0)
    val got = load(table)
    assert(SnapshotScanProbe.scans(got).head.description.contains("vectorized"),
      s"long/string/double DV scan should stay columnar: ${SnapshotScanProbe.scans(got).head.description}")
    val expect = base.filter(!(col("id") < 10000 || pmod(col("id"), lit(3)) === 0))
    assert(got.collect().toSet === expect.collect().toSet,
      "compacted batches must carry exact values, null strings included")

    // without DVs, nested columns (array, struct) read as batches too
    val nested = freshTable("dsv2-nested")
    SnapshotStore.commit(spark.range(0, 1000).selectExpr("id",
      "array(id, id + 1) AS xs", "named_struct('a', id, 'b', concat('s-', id)) AS st"), nested)
    val nestedRead = load(nested)
    assert(SnapshotScanProbe.scans(nestedRead).head.description.contains("vectorized"),
      s"a no-DV nested scan should read batches: ${SnapshotScanProbe.scans(nestedRead).head.description}")
    assert(nestedRead.collect().toSet === SnapshotStore.read(spark, nested).collect().toSet)

    // with DVs, a non-atomic column (array) keeps the scan correct on the row path
    val arrTable = freshTable("dsv2-dvarr")
    SnapshotStore.commit(
      spark.range(0, 1000).selectExpr("id", "array(id, id + 1) AS xs"), arrTable)
    SnapshotStore.deleteCommit(spark, arrTable, Seq("id"), pmod(col("id"), lit(2)) === 0)
    val arr = load(arrTable)
    assert(SnapshotScanProbe.scans(arr).head.description.contains("row"),
      s"array column must fall back to the row reader: ${SnapshotScanProbe.scans(arr).head.description}")
    // `contains("row")` also matches the `rowGroups=` every description prints
    assert(!SnapshotScanProbe.scans(arr).head.description.contains("vectorized"),
      s"array column with DVs must not read columnar: ${SnapshotScanProbe.scans(arr).head.description}")
    assert(arr.count() === 500)
  }

  test("streaming sink: micro-batches append exactly-once; change feed streams them back out") {
    val table = freshTable("dsv2-sink")
    val ckpt = java.nio.file.Files.createTempDirectory("dsv2-sinkck").toString
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // snapshot tables are born from a first commit — seed the schema
    SnapshotStore.commit(spark.range(0).selectExpr("id", "id * 2 AS v"), table)
    val input = MemoryStream[Long]
    def start() = input.toDF().selectExpr("value AS id", "value * 2 AS v")
      .writeStream.format("graft-snapshot").option("path", table)
      .option("checkpointLocation", ckpt).outputMode("append").start()

    val q1 = start()
    try {
      input.addData(0L until 10L: _*); q1.processAllAvailable()
      input.addData(10L until 15L: _*); q1.processAllAvailable()
      assert(SnapshotStore.read(spark, table).count() === 15)
      val h = SnapshotStore.history(spark, table).orderBy("version")
        .collect().map(_.getString(2)).toSeq
      assert(h.forall(op => op == "create" || op == "append"), s"ops: $h")
      // each commit records its epoch; the manifests are file-granular
      val head = SnapshotStore.manifest(spark, table,
        SnapshotStore.currentVersion(spark, table).get)
      assert(head.srcV >= 0L && head.files.nonEmpty)
    } finally q1.stop()

    // restart from the checkpoint: prior epochs must NOT re-append
    val q2 = start()
    try {
      input.addData(15L until 18L: _*); q2.processAllAvailable()
      assert(SnapshotStore.read(spark, table).count() === 18, "restart duplicated epochs")
      assert(SnapshotStore.read(spark, table).agg(sum(col("id"))).head().getLong(0)
        === (0L until 18L).sum)
    } finally q2.stop()

    // the feed side: every sink commit streams back out as insert deltas
    val feed = spark.readStream.format("graft-snapshot")
      .option("path", table).option("changeFeed", "true").load()
      .writeStream.format("memory").queryName("graft_sink_feed").outputMode("append").start()
    try {
      feed.processAllAvailable()
      val rows = spark.table("graft_sink_feed").collect()
      assert(rows.length === 18, "feed must reconstruct the full content")
      val kinds = rows.map(_.getString(rows.head.fieldIndex("_change_type"))).toSet
      assert(kinds.subsetOf(Set("snapshot", "insert")), s"kinds: $kinds")
    } finally feed.stop()
  }

  test("metadata tables: $history and $files answer from markers and file statuses") {
    val wh = java.nio.file.Files.createTempDirectory("dsv2-meta").toString
    spark.conf.set("spark.sql.catalog.gsnapmeta", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsnapmeta.warehouse", wh)
    try {
      val t = s"$wh/dims/nation"
      val nation = graft.sources.Tables.nation(spark, sf())
      SnapshotStore.commit(nation, t)                                      // v0
      SnapshotStore.appendCommit(nation.limit(3).coalesce(1), t)           // v1
      SnapshotStore.deleteCommit(spark, t, Seq("n_nationkey"), col("n_nationkey") === 0) // v2

      val hist = spark.sql(
        "SELECT version, operation, n_delete_files FROM gsnapmeta.dims.`nation$history` ORDER BY version")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
      assert(hist === Seq((0L, "create", 0), (1L, "append", 0), (2L, "delete", 1)), s"$hist")

      val files = spark.sql(
        "SELECT file, size_bytes, rows FROM gsnapmeta.dims.`nation$files`")
        .collect()
      val expectFiles = SnapshotStore.dataFiles(spark, SnapshotStore.manifest(spark, t, 2L))
      assert(files.length === expectFiles.size)
      assert(files.forall(_.getLong(1) > 0L), "sizes come from real file statuses")
      // row counts resolve from the stats sidecar (no footer opens) and
      // the scan is DISTRIBUTED — file statuses stat in tasks, the
      // driver ships only path slices
      assert(files.map(_.getLong(2)).sum ===
        spark.read.parquet(expectFiles: _*).count(), // physical rows, DVs included
        s"rows column must carry sidecar physical row counts: ${files.toSeq}")
      // projection/filter compose like any table
      assert(spark.sql(
        "SELECT count(*) AS c FROM gsnapmeta.dims.`nation$history` WHERE operation = 'append'")
        .head().getLong(0) === 1L)
      // unknown suffix and missing base both refuse
      intercept[Exception](spark.sql("SELECT * FROM gsnapmeta.dims.`nation$bogus`").collect())
      intercept[Exception](spark.sql("SELECT * FROM gsnapmeta.dims.`ghost$history`").collect())
    } finally {
      spark.conf.unset("spark.sql.catalog.gsnapmeta.warehouse")
      spark.conf.unset("spark.sql.catalog.gsnapmeta")
    }
  }

  test("scan reports post-pushdown statistics; small snapshot dims auto-broadcast") {
    val t = freshTable("dsv2-stats")
    SnapshotStore.commit(
      spark.range(0, 10000).selectExpr("id AS k", "id * 3 AS v")
        .repartitionByRange(8, col("k")), t)

    // full-scan stats: exact row count, positive size
    val full = load(t)
    val st = SnapshotScanProbe.scans(full).head.exec.scan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(st.numRows.getAsLong === 10000L)
    assert(st.sizeInBytes.getAsLong > 0L)

    // a pushed range filter shrinks the estimate with the kept groups
    val filtered = load(t).filter(col("k") < 1000L)
    val stF = SnapshotScanProbe.scans(filtered).head.exec.scan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(stF.numRows.getAsLong < st.numRows.getAsLong,
      s"static pruning must shrink the row estimate: ${stF.numRows} vs ${st.numRows}")

    // the payoff: a small snapshot dim joins a big parquet fact WITHOUT
    // an explicit broadcast() hint and still plans a broadcast join —
    // impossible under the DSv2 default stats (Long.MaxValue size)
    val factDir = java.nio.file.Files.createTempDirectory("dsv2-stats-fact").toString
    spark.range(0, 200000).selectExpr("id % 10000 AS k", "id AS x")
      .write.mode("overwrite").parquet(factDir)
    val joined = spark.read.parquet(factDir).join(load(t), "k")
    val hasBroadcast = joined.queryExecution.sparkPlan.collectFirst {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(hasBroadcast.isDefined,
      s"expected auto-broadcast of the 10k-row snapshot dim, got:\n${joined.queryExecution.sparkPlan}")
    assert(joined.count() === 200000L)
  }
}
