package graft.sources

import graft.SparkSuite
import graft.store.{PartitionSpec, SnapshotStore}
import org.apache.spark.sql.functions._

/** Partition transforms on snapshot tables (`days`/`months`/`years`/
  * `hours`/`identity`/`truncate` — [[PartitionSpec]]): writers route
  * rows into hive-style `__gpN=` directories, the manifest records the
  * spec, and the scan prunes whole partitions from pushed predicates
  * BEFORE any stats sidecar or footer is consulted — the day-appended
  * 100 TB fact layout (reference: `bronze_to_silver.py:115`
  * partitionBy("observation_date")). */
class PartitionedTableSpec extends SparkSuite {

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  test("partitionedCommit days(ts): routed dirs, identical answers, path-only pruning") {
    val table = freshDir("part-days") + "/t"
    val orders = graft.sources.Tables.orders(spark, sf())
    SnapshotStore.partitionedCommit(orders, table, Seq(PartitionSpec.PartField("days", "o_orderdate")))

    val m = SnapshotStore.manifest(spark, table, 0L)
    assert(m.partSpec === Seq(PartitionSpec.PartField("days", "o_orderdate")))
    assert(m.files.nonEmpty && m.files.forall(_.contains("/__gp0=")),
      s"every routed file sits under a partition dir: ${m.files.take(3)}")
    // the derived column is directory-only: data files keep the original schema
    val read = spark.read.format("graft-snapshot").option("path", table).load()
    assert(read.schema.fieldNames.toSeq === orders.schema.fieldNames.toSeq)
    assert(read.count() === orders.count())

    // one full-day predicate: pruning must happen from the PATHS, before
    // stats (footer counter unchanged, partition counter > 0), and the
    // answer must match the unpartitioned truth
    val day = orders.select(to_date(col("o_orderdate")).cast("string").alias("d"))
      .distinct().orderBy("d").collect()(1).getString(0)
    val lo = java.sql.Timestamp.valueOf(s"$day 00:00:00")
    val hi = new java.sql.Timestamp(lo.getTime + 86400000L)
    val footers0 = SnapshotScanProbe.plannerFooterReads
    val q = read.filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
      .agg(count(lit(1)), sum(col("o_orderkey")))
    val got = q.collect()(0)
    val want = orders.filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
      .agg(count(lit(1)), sum(col("o_orderkey"))).collect()(0)
    assert(got === want, "partition pruning must not change answers")
    assert(SnapshotScanProbe.scans(q).head.partitionPrunedFiles > 0,
      "a one-day predicate over a day-partitioned table must prune files from paths")
    assert(SnapshotScanProbe.plannerFooterReads === footers0,
      "partition pruning must not open data-file footers")
  }

  test("CTAS PARTITIONED BY (days(...)) + INSERT INTO route through the same layout") {
    val wh = freshDir("part-ctas")
    val cat = "gpart_" + java.util.UUID.randomUUID.toString.take(8).replace("-", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      graft.sources.Tables.orders(spark, sf()).createOrReplaceTempView("gpart_src")
      spark.sql(
        s"""CREATE TABLE $cat.facts.orders PARTITIONED BY (days(o_orderdate))
            AS SELECT * FROM gpart_src""")
      val root = s"$wh/facts/orders"
      val m0 = SnapshotStore.manifest(spark, root, 0L)
      assert(m0.partSpec === Seq(PartitionSpec.PartField("days", "o_orderdate")))
      assert(m0.files.forall(_.contains("/__gp0=")),
        "CTAS tasks must roll files into partition dirs")

      // INSERT INTO appends route into the same directory naming as the
      // DataFrame path — day dirs line up across both writers
      spark.sql(
        s"""INSERT INTO $cat.facts.orders
            SELECT o_orderkey + 1000000, o_custkey, o_orderstatus, o_totalprice,
                   o_orderdate, o_orderpriority FROM gpart_src""")
      val m1 = SnapshotStore.manifest(spark, root, 1L)
      assert(m1.partSpec === m0.partSpec, "append carries the spec forward")
      val newFiles = m1.files.filterNot(m0.files.toSet)
      assert(newFiles.nonEmpty && newFiles.forall(_.contains("/__gp0=")))
      def daysOf(files: Seq[String]): Set[String] =
        files.flatMap(_.split('/').find(_.startsWith("__gp0="))).toSet
      assert(daysOf(newFiles) === daysOf(m0.files.toSeq),
        "both write paths must name day directories identically")
      assert(spark.sql(s"SELECT count(*) FROM $cat.facts.orders").head().getLong(0)
        === 2 * spark.table("gpart_src").count())

      // the table reports its transforms
      val parts = spark.sessionState.catalogManager.catalog(cat)
        .asInstanceOf[SnapshotCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
          Array("facts"), "orders")).partitioning()
      assert(parts.map(_.describe()).toSeq === Seq("days(o_orderdate)"))
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  test("retention DELETE on a partition boundary is a pure manifest edit (delete-files)") {
    val wh = freshDir("part-retention")
    val cat = "gret_" + java.util.UUID.randomUUID.toString.take(8).replace("-", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val root = s"$wh/facts/orders"
      val orders = graft.sources.Tables.orders(spark, sf())
      SnapshotStore.partitionedCommit(orders, root,
        Seq(PartitionSpec.PartField("days", "o_orderdate")))
      val cut = orders.select(to_date(col("o_orderdate")).cast("string").alias("d"))
        .distinct().orderBy("d").collect()(2).getString(0)
      val footers0 = SnapshotScanProbe.plannerFooterReads
      spark.sql(
        s"DELETE FROM $cat.facts.orders WHERE o_orderdate < TIMESTAMP'$cut 00:00:00'")
      val m1 = SnapshotStore.manifest(spark, root, 1L)
      assert(m1.op === "delete-files",
        s"a partition-aligned retention DELETE must classify metadata-only, got ${m1.op}")
      assert(m1.partSpec.nonEmpty, "the spec survives the manifest edit")
      assert(SnapshotScanProbe.plannerFooterReads === footers0, "no footers, no job")
      val want = orders.filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf(s"$cut 00:00:00"))).count()
      assert(spark.sql(s"SELECT count(*) FROM $cat.facts.orders").head().getLong(0) === want)
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  test("identity + truncate transforms: null partitions, prefix pruning, exact answers") {
    import spark.implicits._
    val table = freshDir("part-ident") + "/t"
    val df = Seq(
      (1L, Option("ALPHA-1"), "us"), (2L, Option("ALPHA-2"), "eu"),
      (3L, Option("BETA-9"), "us"), (4L, Option.empty[String], "ap")
    ).toDF("id", "sku", "region")
    SnapshotStore.partitionedCommit(df, table, Seq(
      PartitionSpec.PartField("truncate", "sku", 5),
      PartitionSpec.PartField("identity", "region")))
    val read = spark.read.format("graft-snapshot").option("path", table).load()
    assert(read.count() === 4)
    assert(read.filter(col("sku").isNull).count() === 1, "null routes to the null dir and reads back")

    // equality on the truncate source: only the ALPHA prefix partitions stay
    val alpha = read.filter(col("sku") === "ALPHA-2")
    assert(alpha.collect().length === 1)
    assert(SnapshotScanProbe.scans(alpha).head.partitionPrunedFiles > 0,
      "prefix partitions that cannot hold the value must prune")

    // identity partition pruning on a second spec field
    val eu = read.filter(col("region") === "eu").select(sum("id"))
    assert(eu.collect()(0).getLong(0) === 2L)
    assert(SnapshotScanProbe.scans(eu).head.partitionPrunedFiles > 0)
  }

  test("months transform over timestamps prunes month directories") {
    val table = freshDir("part-months") + "/t"
    val orders = graft.sources.Tables.orders(spark, sf())
    SnapshotStore.partitionedCommit(orders, table,
      Seq(PartitionSpec.PartField("months", "o_orderdate")))
    val m = SnapshotStore.manifest(spark, table, 0L)
    assert(m.files.forall(_.contains("/__gp0=")))
    val read = spark.read.format("graft-snapshot").option("path", table).load()
    val month = orders.select(date_format(col("o_orderdate"), "yyyy-MM").alias("m"))
      .groupBy("m").count().orderBy("m").collect()
    assume(month.length > 1, "needs at least two months of data")
    val pick = month(0).getString(0)
    val lo = java.sql.Timestamp.valueOf(s"$pick-01 00:00:00")
    val got = read.filter(col("o_orderdate") < lit(lo)).count()
    assert(got === orders.filter(col("o_orderdate") < lit(lo)).count())
    // everything is >= the first month's start → every file pruned...
    // unless the planner folded the filter; assert the counter moved
    // for the complementary shape instead
    val hi = java.sql.Timestamp.valueOf(s"$pick-28 00:00:00")
    val q2 = read.filter(col("o_orderdate") <= lit(hi))
    assert(q2.collect().length === orders.filter(col("o_orderdate") <= lit(hi)).count())
    assert(SnapshotScanProbe.scans(q2).head.partitionPrunedFiles > 0,
      "a first-month predicate must prune later month dirs")
  }

  test("vacuum keeps live nested partition files and collects aged-out ones") {
    val table = freshDir("part-vac") + "/t"
    val orders = graft.sources.Tables.orders(spark, sf())
    SnapshotStore.partitionedCommit(orders.limit(50), table,
      Seq(PartitionSpec.PartField("days", "o_orderdate")))           // v0
    SnapshotStore.appendCommit(orders.limit(10), table)              // v1
    SnapshotStore.commit(orders.limit(5), table)                     // v2 (rewrite)
    SnapshotStore.appendCommit(orders.limit(3), table)               // v3
    val dropped = SnapshotStore.vacuum(spark, table, keep = 2)
    assert(dropped === Seq(0L, 1L))
    // v0/v1's partition-routed files are gone; v2/v3 read intact
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotStore.manifest(spark, table, 0L match { case _ => 2L }).files.foreach(f =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(f)), s"live file vacuumed: $f"))
    assert(SnapshotStore.read(spark, table).count() === 8)
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(table)).exists(s =>
      s.getPath.getName.startsWith("v=0")), "v0's routed stage must be collected")
  }

  test("streaming sink routes micro-batches into partition dirs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val table = freshDir("part-stream") + "/t"
    val orders = graft.sources.Tables.orders(spark, sf())
    SnapshotStore.partitionedCommit(orders.limit(0), table,
      Seq(PartitionSpec.PartField("days", "o_orderdate")))
    val rows = orders.limit(20)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .as[(Long, Long, String, Double, java.sql.Timestamp, String)].collect().toSeq
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Double, java.sql.Timestamp, String)]
    val ckpt = freshDir("part-stream-ckpt")
    val q = mem.toDF()
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .writeStream.format("graft-snapshot").option("path", table)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try { mem.addData(rows: _*); q.processAllAvailable() } finally q.stop()
    val m = SnapshotStore.manifest(spark, table,
      SnapshotStore.currentVersion(spark, table).get)
    val appended = m.files.filterNot(SnapshotStore.manifest(spark, table, 0L).files.toSet)
    assert(appended.nonEmpty && appended.forall(_.contains("/__gp0=")),
      s"streamed files must route into partition dirs: ${appended.take(3)}")
    assert(SnapshotStore.read(spark, table).count() === 20)
  }

  test("empty-string partition values: both writers route to the hive default dir; no predicate mis-prunes them") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StringType, StructType}

    // rendering contract (r13 soundness fix, pinned here): the rolling
    // writer must agree byte-for-byte with df.write.partitionBy, which
    // routes BOTH null and '' to the hive default directory
    val sspec = Seq(PartitionSpec.PartField("identity", "sku"))
    val nspec = Seq(PartitionSpec.PartField("identity", "n"))
    assert(PartitionSpec.dirSuffix(sspec, Seq(Some("")))
      === s"__gp0=${PartitionSpec.NullDir}", "empty strings route like nulls")
    assert(PartitionSpec.dirSuffix(sspec, Seq(None)) === s"__gp0=${PartitionSpec.NullDir}")
    // fact contract: string default dir proves only "null OR ''" → no
    // fact; non-string default dir proves all-null; a bare `__gpN=`
    // segment is foreign (neither writer emits it) → no fact, any type
    val schema = new StructType().add("sku", StringType).add("n", LongType)
    assert(PartitionSpec.factsOf(
      s"/x/__gp0=${PartitionSpec.NullDir}/f.parquet", sspec, schema) === Nil)
    assert(PartitionSpec.factsOf(
      s"/x/__gp0=${PartitionSpec.NullDir}/f.parquet", nspec, schema)
      === Seq(PartitionSpec.AllNull("n")))
    assert(PartitionSpec.factsOf("/x/__gp0=/f.parquet", sspec, schema) === Nil)
    assert(PartitionSpec.factsOf("/x/__gp0=/f.parquet", nspec, schema) === Nil,
      "a bare empty segment must yield NO fact — asserting AllNull for a " +
        "path no writer produces could prune live rows of foreign data")

    // end-to-end through BOTH write paths on one table
    val wh = freshDir("part-empty")
    val cat = "gpemp_" + java.util.UUID.randomUUID.toString.take(8).replace("-", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val root = s"$wh/facts/t"
      val df = Seq(
        (1L, Option("x")), (2L, Option("y")), (3L, Option("")), (4L, Option.empty[String])
      ).toDF("id", "sku")
      // path 1: DataFrame write (df.write.partitionBy under the hood)
      SnapshotStore.partitionedCommit(df, root, sspec)
      // path 2: the DSv2 rolling writer (INSERT INTO routes per-row)
      df.select((col("id") + 10L).alias("id"), col("sku"))
        .createOrReplaceTempView("gpemp_src")
      spark.sql(s"INSERT INTO $cat.facts.t SELECT * FROM gpemp_src")

      val m0 = SnapshotStore.manifest(spark, root, 0L)
      val m1 = SnapshotStore.manifest(spark, root, 1L)
      val rolled = m1.files.filterNot(m0.files.toSet)
      def underDefault(fs: Seq[String]) =
        fs.filter(_.contains(s"__gp0=${PartitionSpec.NullDir}"))
      assert(underDefault(m0.files.toSeq).nonEmpty && underDefault(rolled).nonEmpty,
        s"both writers must use the default dir for null/'' rows: ${m1.files}")
      assert(!m1.files.exists(_.contains("__gp0=/")),
        s"no writer may emit a bare empty partition segment: ${m1.files}")
      def dirsOf(fs: Seq[String]): Set[String] =
        fs.flatMap(_.split('/').find(_.startsWith("__gp0="))).toSet
      assert(dirsOf(rolled) === dirsOf(m0.files.toSeq),
        "identical rows must land in identical directories on both paths")

      // answers: every null-vs-empty distinction survives the shared dir
      val read = spark.read.format("graft-snapshot").option("path", root).load()
      assert(read.count() === 8)
      assert(read.filter(col("sku") === "").select("id").collect().map(_.getLong(0)).sorted
        === Array(3L, 13L), "c = '' must see rows in the default dir (r13 soundness fix)")
      assert(read.filter(col("sku").isNull).select("id").collect().map(_.getLong(0)).sorted
        === Array(4L, 14L))
      assert(read.filter(col("sku") === "x").select("id").collect().map(_.getLong(0)).sorted
        === Array(1L, 11L))
      // pruning still fires where it is PROVABLE (the y-dir for c = 'x')
      val x = read.filter(col("sku") === "x")
      assert(x.collect().length === 2)
      assert(SnapshotScanProbe.scans(x).head.partitionPrunedFiles > 0,
        "value dirs that cannot match must still prune")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  test("partition-spec evolution: months→days with zero data movement, both generations prune") {
    val table = freshDir("part-evolve") + "/t"
    val orders = graft.sources.Tables.orders(spark, sf())
    SnapshotStore.partitionedCommit(orders, table,
      Seq(PartitionSpec.PartField("months", "o_orderdate")))      // generation 0
    val m0 = SnapshotStore.manifest(spark, table, 0L)

    // evolve: ONE metadata commit, no byte moves
    val v1 = SnapshotStore.evolvePartitionSpec(spark, table,
      Seq(PartitionSpec.PartField("days", "o_orderdate")))
    val m1 = SnapshotStore.manifest(spark, table, v1)
    assert(m1.op === "evolve-spec" && m1.partGen === 1)
    assert(m1.partSpec === Seq(PartitionSpec.PartField("days", "o_orderdate")))
    assert(m1.partHist === Seq((0, Seq(PartitionSpec.PartField("months", "o_orderdate")))))
    assert(m1.files === m0.files, "evolution must move zero data")

    // appends route under the NEW generation's TAGGED directories
    SnapshotStore.appendCommit(
      orders.withColumn("o_orderkey", col("o_orderkey") + 1000000L), table)
    val m2 = SnapshotStore.manifest(spark, table,
      SnapshotStore.currentVersion(spark, table).get)
    val gen1Files = m2.files.filterNot(m0.files.toSet)
    assert(gen1Files.nonEmpty && gen1Files.forall(_.contains("/__g1p0=")),
      s"new files must carry the generation tag: ${gen1Files.take(3)}")
    assert(m0.files.forall(_.contains("/__gp0=")), "old files keep legacy names")

    // answers exact; pruning drops EXACTLY the provably-dead files of
    // BOTH generations (computed from the paths themselves)
    val cutTs = java.sql.Timestamp.valueOf("1997-06-15 00:00:00")
    val read = spark.read.format("graft-snapshot").option("path", table).load()
    val want = orders.filter(col("o_orderdate") >= lit(cutTs)).count() * 2
    def dirVal(f: String, pre: String): Option[String] =
      f.split('/').find(_.startsWith(pre)).map(_.stripPrefix(pre))
    val expectPruned =
      m2.files.count(f =>
        dirVal(f, "__gp0=").exists(_ < "1997-06") ||       // old months before the cut's month
        dirVal(f, "__g1p0=").exists(_ < "1997-06-15"))     // new days before the cut day
    assert(expectPruned > 0, "fixture must have prunable files in both generations")
    assert(m2.files.exists(f => dirVal(f, "__gp0=").exists(_ < "1997-06")) &&
      m2.files.exists(f => dirVal(f, "__g1p0=").exists(_ < "1997-06-15")),
      "fixture must exercise pruning in EACH generation")
    val cutQ = read.filter(col("o_orderdate") >= lit(cutTs)).agg(count(lit(1)))
    assert(cutQ.collect()(0).getLong(0) === want)
    assert(SnapshotScanProbe.scans(cutQ).head.partitionPrunedFiles === expectPruned,
      "every provably-dead file of every generation must prune — and nothing else")

    // a full compaction re-routes everything under the CURRENT spec and
    // heals the generation history away
    val (_, _, _, vC) = graft.ops.Bucketing.compactCommit(spark, table, 256L << 20)
    val mC = SnapshotStore.manifest(spark, table, vC)
    assert(mC.partGen === 1 && mC.partHist.isEmpty,
      "compaction must drop spec history (all files re-routed)")
    assert(mC.files.forall(_.contains("/__g1p0=")))
    assert(spark.read.format("graft-snapshot").option("path", table).load().count()
      === orders.count() * 2)
    val healed = spark.read.format("graft-snapshot").option("path", table).load()
      .filter(col("o_orderdate") >= lit(cutTs)).agg(count(lit(1)))
    healed.collect()
    assert(SnapshotScanProbe.scans(healed).head.partitionPrunedFiles > 0,
      "day pruning must keep working after the healing rewrite")
  }

  test("CALL system.evolve_partition_spec publishes through SQL; INSERT routes the new generation") {
    val wh = freshDir("part-evolve-sql")
    val cat = "gpev_" + java.util.UUID.randomUUID.toString.take(8).replace("-", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val root = s"$wh/facts/orders"
      val orders = graft.sources.Tables.orders(spark, sf())
      SnapshotStore.partitionedCommit(orders, root,
        Seq(PartitionSpec.PartField("months", "o_orderdate")))
      val v = spark.sql(
        s"CALL $cat.system.evolve_partition_spec('facts.orders', 'days:o_orderdate')")
        .head().getLong(0)
      assert(v === 1L)
      orders.createOrReplaceTempView("gpev_src")
      spark.sql(
        s"""INSERT INTO $cat.facts.orders
            SELECT o_orderkey + 5000000, o_custkey, o_orderstatus, o_totalprice,
                   o_orderdate, o_orderpriority FROM gpev_src""")
      val m = SnapshotStore.manifest(spark, root, 2L)
      val fresh = m.files.filterNot(
        SnapshotStore.manifest(spark, root, 1L).files.toSet)
      assert(fresh.nonEmpty && fresh.forall(_.contains("/__g1p0=")),
        s"the DSv2 rolling writer must route under the evolved generation: ${fresh.take(3)}")
      assert(spark.sql(s"SELECT count(*) FROM $cat.facts.orders").head().getLong(0)
        === orders.count() * 2)
      // the table reports the CURRENT spec's transforms
      val parts = spark.sessionState.catalogManager.catalog(cat)
        .asInstanceOf[SnapshotCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
          Array("facts"), "orders")).partitioning()
      assert(parts.map(_.describe()).toSeq === Seq("days(o_orderdate)"))
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  test("unsupported transform shapes refuse loudly") {
    val table = freshDir("part-refuse") + "/t"
    val orders = graft.sources.Tables.orders(spark, sf())
    val e1 = intercept[UnsupportedOperationException] {
      SnapshotStore.partitionedCommit(orders, table,
        Seq(PartitionSpec.PartField("hours", "o_orderstatus")))
    }
    assert(e1.getMessage.contains("unsupported partition transform"))
    val e2 = intercept[IllegalArgumentException] {
      SnapshotStore.partitionedCommit(orders, table,
        Seq(PartitionSpec.PartField("days", "nope")))
    }
    assert(e2.getMessage.contains("not in the schema"))
  }

  test("compaction re-routes through the partition spec: pruning survives the DV-clearing rewrite") {
    val table = freshDir("part-compact") + "/t"
    val orders = graft.sources.Tables.orders(spark, sf())
    SnapshotStore.partitionedCommit(orders, table,
      Seq(PartitionSpec.PartField("months", "o_orderdate")))
    SnapshotStore.deleteCommit(spark, table, Seq("o_orderkey"),
      pmod(col("o_orderkey"), lit(9)) === 2)
    val want = SnapshotStore.read(spark, table)
      .agg(count(lit(1)), sum("o_orderkey")).collect()(0)

    val (_, _, _, v) = graft.ops.Bucketing.compactCommit(spark, table, 64L << 20)
    val m = SnapshotStore.manifest(spark, table, v)
    assert(m.op === "compact" && m.deletes.isEmpty, "compaction materializes DVs away")
    assert(m.partSpec.nonEmpty, "the spec survives compaction")
    assert(m.files.nonEmpty && m.files.forall(_.contains("/__gp0=")),
      s"compacted outputs must re-route into partition dirs: ${m.files.take(2)}")

    val read = spark.read.format("graft-snapshot").option("path", table).load()
    assert(read.agg(count(lit(1)), sum("o_orderkey")).collect()(0) === want,
      "compaction must not change answers")
    val late = read.filter(
      col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1999-01-01 00:00:00")))
      .agg(count(lit(1)))
    late.collect()
    assert(SnapshotScanProbe.scans(late).head.partitionPrunedFiles > 0,
      "partition pruning must keep working after compaction")
  }

  test("an empty input partition 0 never plants an unrouted root file (fallback contract)") {
    import org.apache.spark.sql.catalyst.InternalRow
    val staged = freshDir("part-fallback")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType)))
    val spec = Seq(PartitionSpec.PartField("identity", "k"))
    val conf = spark.sparkContext.hadoopConfiguration
    // task 0: zero rows → message carries only the schema fallback
    val w0 = new SnapshotPartitionedDataWriter(staged, 0, schema, spec, conf)
    val m0 = w0.commit().asInstanceOf[SnapshotFilesCommitMessage]
    assert(m0.files.isEmpty && m0.emptyFallback.nonEmpty)
    // task 1: one real routed row
    val w1 = new SnapshotPartitionedDataWriter(staged, 1, schema, spec, conf)
    w1.write(InternalRow(7L))
    val m1 = w1.commit().asInstanceOf[SnapshotFilesCommitMessage]
    assert(m1.files.nonEmpty && m1.files.forall(_.contains("__gp0=7")))
    // job view: real files win, the fallback is ignored (and would be
    // swept as a stray); an all-empty job falls back to the one file
    assert(SnapshotWriteUtil.committedFiles(Array(m0, m1)) === m1.files)
    assert(SnapshotWriteUtil.committedFiles(Array(m0)) === m0.emptyFallback.toSeq)
  }

  test("small-file compaction merges WITHIN partitions: routing and pruning survive") {
    val table = freshDir("part-smallcompact") + "/t"
    val orders = graft.sources.Tables.orders(spark, sf())
    SnapshotStore.partitionedCommit(orders, table,
      Seq(PartitionSpec.PartField("months", "o_orderdate")))
    // streaming-ingest shape: several tiny appends landing inside the
    // same month directories
    (1 to 3).foreach { i =>
      SnapshotStore.appendCommit(
        orders.filter(pmod(col("o_orderkey"), lit(100)) === i)
          .withColumn("o_orderkey", col("o_orderkey") + i * 1000000L), table)
    }
    val want = SnapshotStore.read(spark, table)
      .agg(count(lit(1)), sum("o_orderkey")).collect()(0)
    val before = SnapshotStore.dataFiles(spark, SnapshotStore.manifest(spark, table,
      SnapshotStore.currentVersion(spark, table).get)).size

    val (rewritten, linked, after, v) =
      graft.ops.Bucketing.compactSmallFilesCommit(spark, table,
        smallBytes = 256L << 10, targetBytes = 64L << 20)
    assert(rewritten > 0, s"the tiny appended files must merge (before=$before)")
    val m = SnapshotStore.manifest(spark, table, v)
    assert(m.op === "compact-small" && m.partSpec.nonEmpty)
    val staged = m.files.filterNot(f => f.contains("v=0__"))
    assert(staged.nonEmpty && staged.forall(_.contains("/__gp0=")),
      s"merged outputs must land inside partition dirs: ${staged.take(3)}")

    val read = spark.read.format("graft-snapshot").option("path", table).load()
    assert(read.agg(count(lit(1)), sum("o_orderkey")).collect()(0) === want)
    val late = read.filter(
      col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1999-01-01 00:00:00")))
      .agg(count(lit(1)))
    late.collect()
    assert(SnapshotScanProbe.scans(late).head.partitionPrunedFiles > 0,
      "pruning keeps working over the merged layout")
  }

  test("$partitions metadata table: per-partition inventory from sidecar metadata only") {
    val wh = freshDir("part-meta")
    val cat = "gpmeta_" + java.util.UUID.randomUUID.toString.take(8).replace("-", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val orders = graft.sources.Tables.orders(spark, sf())
    SnapshotStore.partitionedCommit(orders, s"$wh/facts/orders",
      Seq(PartitionSpec.PartField("months", "o_orderdate")))

    val footers0 = SnapshotScanProbe.plannerFooterReads
    val parts = spark.sql(s"SELECT * FROM $cat.facts.`orders$$partitions`").collect()
    assert(SnapshotScanProbe.plannerFooterReads === footers0,
      "$partitions must resolve from the sidecar, not footers")
    assert(parts.nonEmpty && parts.forall(_.getString(0).startsWith("months(o_orderdate)=")),
      s"labels carry the transform spelling: ${parts.take(2).toSeq}")
    assert(parts.map(_.getLong(2)).sum === orders.count(),
      "sidecar row counts must sum to the table count")
    assert(parts.forall(r => r.getLong(1) >= 1L && r.getLong(3) > 0L),
      "every partition reports files and data bytes")

    // unpartitioned table: one <table> row covering everything
    SnapshotStore.commit(orders, s"$wh/facts/plain")
    val whole = spark.sql(s"SELECT * FROM $cat.facts.`plain$$partitions`").collect()
    assert(whole.length === 1 && whole(0).getString(0) === "<table>" &&
      whole(0).getLong(2) === orders.count())
  }
}
