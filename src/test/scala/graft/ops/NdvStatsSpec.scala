package graft.ops

import graft.SparkSuite
import graft.store.SnapshotStore
import org.apache.spark.sql.functions._

/** NDV column statistics ([[NdvStats]] / `CALL system.analyze`):
  * per-file mergeable HLL sketches published as a manifest surface;
  * the scan reports union-of-kept-files distinctCount through the V2
  * Statistics API, which Spark's CBO folds into join cardinality. */
class NdvStatsSpec extends SparkSuite {

  private def fresh(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/t"

  private def withCbo(test: => Unit): Unit = {
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try test finally spark.conf.unset("spark.sql.cbo.enabled")
  }

  test("analyze publishes per-file sketches; estimates within 10% of exact") {
    val table = fresh("ndv")
    val orders = graft.sources.Tables.orders(spark, sf())
    SnapshotStore.commit(orders.repartition(4), table)
    val v = NdvStats.analyzeCommit(spark, table, Seq("o_custkey", "o_orderstatus"))
    val m = SnapshotStore.manifest(spark, table, v)
    assert(m.ndvFile.nonEmpty && m.op === "analyze")

    val est = NdvStats.estimates(spark, m.ndvFile, SnapshotStore.dataFiles(spark, m))
    val exactCust = orders.select("o_custkey").distinct().count()
    val exactStat = orders.select("o_orderstatus").distinct().count()
    assert(est.keySet === Set("o_custkey", "o_orderstatus"))
    assert(math.abs(est("o_custkey")._1 - exactCust).toDouble / exactCust < 0.10,
      s"o_custkey NDV ${est("o_custkey")} vs exact $exactCust")
    assert(est("o_orderstatus") === ((exactStat, 0L)),
      "tiny cardinalities estimate exactly, null counts exact")
  }

  test("a zero-row part file never voids coverage: analyze pads an identity entry") {
    val table = fresh("ndv-zero")
    val src = graft.sources.Tables.orders(spark, sf())
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .withColumn("opt_key",
        when(pmod(col("o_orderkey"), lit(7)) === 0, lit(null).cast("bigint"))
          .otherwise(col("o_orderkey")))
    SnapshotStore.commit(src.repartition(3), table)
    // link one 0-row part file into the manifest — the shape an empty
    // write partition/split produces at scale (seen live at sf10)
    val ed = java.nio.file.Files.createTempDirectory("ndv-empty").toString
    src.limit(0).coalesce(1).write.mode("overwrite").parquet(ed)
    val empty = new java.io.File(ed).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head.getAbsolutePath
    SnapshotStore.appendFilesCommit(spark, table, Seq(empty), stagedExact = true)

    val v = NdvStats.analyzeCommit(spark, table, Seq("opt_key"))
    val m = SnapshotStore.manifest(spark, table, v)
    val est = NdvStats.estimates(spark, m.ndvFile, SnapshotStore.dataFiles(spark, m))
    val exactNulls = src.filter(col("opt_key").isNull).count()
    assert(est.contains("opt_key"),
      "the empty file must carry a padded coverage entry, not void the estimate")
    assert(est("opt_key")._2 === exactNulls, "null counts stay exact through the pad")

    // the downstream payoff: COUNT(col) still plans metadata-only
    val read = spark.read.format("graft-snapshot").option("path", table).load()
    val q = read.agg(count(col("opt_key")), min("o_orderdate"))
    val desc = graft.sources.SnapshotScanProbe.scans(q).map(_.description).mkString("; ")
    assert(desc.contains("count(opt_key)"),
      s"count(col) must push to metadata over the padded coverage, got: $desc")
    assert(q.head().getLong(0) === src.count() - exactNulls)
  }

  test("analyze after RENAME binds each generation's physical spelling") {
    val table = fresh("ndv-ren")
    SnapshotStore.commit(
      spark.range(0, 1000).select(col("id").as("k0")).repartition(2), table)
    SnapshotStore.renameColumnCommit(spark, table, "k0", "k")
    SnapshotStore.appendCommit(
      spark.range(1000, 2000).select(col("id").as("k")).coalesce(1), table)
    // a footer-bound read would sketch the old generation as all-null
    // (half the NDV lost) or refuse the logical name outright
    val v = NdvStats.analyzeCommit(spark, table, Seq("k"))
    val m = SnapshotStore.manifest(spark, table, v)
    val est = NdvStats.estimates(spark, m.ndvFile, SnapshotStore.dataFiles(spark, m))
    assert(math.abs(est("k")._1 - 2000L).toDouble / 2000 < 0.10,
      s"cross-generation NDV must see BOTH physical spellings: ${est("k")}")
    assert(est("k")._2 === 0L, "no real nulls — old-generation rows must not sketch as null")
  }

  test("the scan reports distinctCount to the optimizer; estimates track pruning") {
    val table = fresh("ndv-scan")
    val orders = graft.sources.Tables.orders(spark, sf())
    // range-cluster so a key predicate actually prunes files
    SnapshotStore.sortedCommit(spark.createDataFrame(orders.rdd, orders.schema),
      table, Seq("o_orderkey"), 8)
    NdvStats.analyzeCommit(spark, table, Seq("o_orderkey"))
    withCbo {
      def attrStats(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.optimizedPlan.collectFirst {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
            r.stats.attributeStats
        }.getOrElse(fail("no V2 scan relation in plan"))
      def ndvOf(df: org.apache.spark.sql.DataFrame): Option[Long] =
        attrStats(df).toSeq
          .collectFirst { case (a, cs) if a.name == "o_orderkey" => cs.distinctCount }
          .flatten.map(_.toLong)
      val full = spark.read.format("graft-snapshot").option("path", table).load()
        .select("o_orderkey")
      val exact = orders.select("o_orderkey").distinct().count()
      assert(ndvOf(full).exists(n => math.abs(n - exact).toDouble / exact < 0.10),
        s"scan-reported NDV ${ndvOf(full)} vs exact $exact")

      // a pruned scan unions fewer sketches: NDV estimate shrinks with
      // it (the layout is range-clustered on the key, so a key-range
      // predicate keeps ~1/8 of the files and ~1/8 of the distincts)
      val firstKeys = spark.read.format("graft-snapshot").option("path", table).load()
        .filter(col("o_orderkey") <= 200).select("o_orderkey")
      val prunedNdv = ndvOf(firstKeys)
      assert(prunedNdv.exists(n => n < exact / 2),
        s"pruned-scan NDV $prunedNdv should reflect kept files only (exact $exact)")
    }
  }

  test("CBO join cardinality: NDV stats correct the estimate by orders of magnitude") {
    val wh = java.nio.file.Files.createTempDirectory("ndv-join").toString
    val orders = graft.sources.Tables.orders(spark, sf())
    val fact = s"$wh/fact"
    val dim = s"$wh/dim"
    SnapshotStore.commit(orders.select("o_orderkey", "o_custkey"), fact)
    SnapshotStore.commit(
      orders.select("o_custkey").distinct().withColumn("segment",
        pmod(col("o_custkey"), lit(7))), dim)
    def joined = spark.read.format("graft-snapshot").option("path", fact).load()
      .join(spark.read.format("graft-snapshot").option("path", dim).load(), "o_custkey")
    def joinEstimate: Option[BigInt] =
      joined.queryExecution.optimizedPlan.collectFirst {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.stats.rowCount
      }.flatten
    val truth = joined.count()
    withCbo {
      val before = joinEstimate // rowCount-only estimation
      NdvStats.analyzeCommit(spark, fact, Seq("o_custkey"))
      NdvStats.analyzeCommit(spark, dim, Seq("o_custkey"))
      val after = joinEstimate
      assert(after.isDefined, "NDV stats must give the join a cardinality estimate")
      val err = math.abs(after.get.toLong - truth).toDouble / truth
      assert(err < 0.10, s"join estimate ${after.get} vs truth $truth (err $err)")
      assert(before.isEmpty ||
        math.abs(before.get.toLong - truth).toDouble / truth > err,
        s"NDV must not make the estimate worse: before=$before after=$after truth=$truth")
    }
  }

  test("appended files void the coverage until re-analyzed; surface carries forward") {
    val table = fresh("ndv-append")
    val orders = graft.sources.Tables.orders(spark, sf())
    SnapshotStore.commit(orders, table)
    NdvStats.analyzeCommit(spark, table, Seq("o_custkey"))
    SnapshotStore.appendCommit(orders.limit(10), table)
    val m = SnapshotStore.manifest(spark, table,
      SnapshotStore.currentVersion(spark, table).get)
    assert(m.ndvFile.nonEmpty, "the ndv surface carries forward across appends")
    assert(NdvStats.estimates(spark, m.ndvFile,
      SnapshotStore.dataFiles(spark, m)).isEmpty,
      "an uncovered appended file must suppress the estimate, not skew it")
    // re-analyze restores coverage (now including the appended file)
    val v2 = NdvStats.analyzeCommit(spark, table, Seq("o_custkey"))
    val m2 = SnapshotStore.manifest(spark, table, v2)
    assert(NdvStats.estimates(spark, m2.ndvFile,
      SnapshotStore.dataFiles(spark, m2)).contains("o_custkey"))
  }

  test("a compacting rewrite over DVs drops stale coverage; re-analyze covers the compacted files") {
    val table = fresh("ndv-compact")
    val orders = graft.sources.Tables.orders(spark, sf())
    SnapshotStore.commit(orders.repartition(4), table)
    NdvStats.analyzeCommit(spark, table, Seq("o_custkey"))
    SnapshotStore.deleteCommit(spark, table, Seq("o_orderkey"),
      pmod(col("o_orderkey"), lit(4)) === 0)
    val (_, _, _, vc) = Bucketing.compactCommit(spark, table, 1L << 30)
    val mc = SnapshotStore.manifest(spark, table, vc)
    assert(mc.deletes.isEmpty && mc.op === "compact")
    assert(mc.ndvFile.isEmpty || NdvStats.estimates(spark, mc.ndvFile,
      SnapshotStore.dataFiles(spark, mc)).isEmpty,
      "sketches of the replaced files must not estimate the compacted ones")
    val v2 = NdvStats.analyzeCommit(spark, table, Seq("o_custkey"))
    val m2 = SnapshotStore.manifest(spark, table, v2)
    val est = NdvStats.estimates(spark, m2.ndvFile, SnapshotStore.dataFiles(spark, m2))
    val exact = SnapshotStore.read(spark, table).select("o_custkey").distinct().count()
    assert(est.contains("o_custkey") &&
      math.abs(est("o_custkey")._1 - exact).toDouble / exact < 0.10,
      s"re-analyzed o_custkey NDV ${est.get("o_custkey")} vs exact $exact")
  }

  test("a sidecar past the driver byte cap resolves DISTRIBUTEDLY with estimate parity") {
    val table = fresh("ndv-dist")
    val orders = graft.sources.Tables.orders(spark, sf())
    SnapshotStore.commit(orders.repartition(4), table)
    val v = NdvStats.analyzeCommit(spark, table, Seq("o_custkey", "o_orderstatus"))
    val m = SnapshotStore.manifest(spark, table, v)
    val files = SnapshotStore.dataFiles(spark, m)
    val viaDriver = NdvStats.estimates(spark, m.ndvFile, files) // default cap → driver path
    assert(viaDriver.keySet === Set("o_custkey", "o_orderstatus"))

    spark.conf.set("spark.graft.ndv.driverBytesMax", "1")
    try {
      val d0 = NdvStats.driverEntriesLoaded.get()
      val u0 = NdvStats.distributedUnions.get()
      val viaDist = NdvStats.estimates(spark, m.ndvFile, files)
      assert(NdvStats.distributedUnions.get() === u0 + 1,
        "the byte cap must route the union to a distributed job")
      assert(NdvStats.driverEntriesLoaded.get() === d0,
        "the distributed path must never parse sketch entries on the driver")
      assert(viaDist === viaDriver,
        s"HLL union is associative — both paths must agree exactly: $viaDist vs $viaDriver")

      // repeated planning of the same snapshot answers from the result
      // cache, not another job
      NdvStats.estimates(spark, m.ndvFile, files)
      assert(NdvStats.distributedUnions.get() === u0 + 1,
        "a repeated (sidecar, file-set) estimate must hit the result cache")

      // the coverage contract holds distributedly too: an uncovered
      // file suppresses the estimate instead of skewing it
      SnapshotStore.appendCommit(orders.limit(10), table)
      val m2 = SnapshotStore.manifest(spark, table,
        SnapshotStore.currentVersion(spark, table).get)
      assert(NdvStats.estimates(spark, m2.ndvFile,
        SnapshotStore.dataFiles(spark, m2)).isEmpty)
    } finally spark.conf.unset("spark.graft.ndv.driverBytesMax")
  }

  test("analyze collects KLL quantile sketches: histograms reach CBO and fix skewed-range selectivity") {
    val table = fresh("ndv-hist")
    // heavy skew: u^8-shaped — the top 20% of the VALUE range holds
    // only ~2.7% of the rows, so uniform min/max interpolation
    // overestimates a tail range predicate ~7×
    val df = spark.range(0, 40000).selectExpr(
      "id",
      "CAST(pow(pmod(id * 2654435761, 100000) / 100000.0, 8) * 1000000 AS BIGINT) AS skew")
    SnapshotStore.commit(spark.createDataFrame(df.rdd, df.schema).repartition(4), table)
    NdvStats.analyzeCommit(spark, table, Seq("skew", "id"))
    val m = SnapshotStore.manifest(spark, table,
      SnapshotStore.currentVersion(spark, table).get)
    val st = NdvStats.stats(spark, m.ndvFile, SnapshotStore.dataFiles(spark, m))
    assert(st.contains("skew") && st("skew").histogram.isDefined,
      "a skewed numeric analyzed column must carry an equi-height histogram")
    assert(st("id").histogram.isEmpty,
      "a near-UNIFORM column must emit NO histogram — min/max interpolation is " +
        "already exact there and approximate bins only add join-estimation noise")
    val (height, bins) = st("skew").histogram.get
    assert(bins.length > 1 && height > 0)
    assert(bins.sliding(2).forall { case Array(a, b) => a._2 <= b._2; case _ => true },
      "equi-height bin boundaries must be monotone")

    val cut = 800000L
    val truth = df.filter(col("skew") > cut).count()
    val Seq(mn, mx) = df.agg(min("skew"), max("skew")).collect()(0)
      .toSeq.map(_.asInstanceOf[Long])
    val rows = 40000.0
    val uniformEst = rows * (mx - cut).toDouble / (mx - mn) // what min/max-only CBO would say
    assert(uniformEst > 4 * truth,
      s"precondition: the skew must make uniform interpolation wrong ($uniformEst vs $truth)")
    withCbo {
      val q = spark.read.format("graft-snapshot").option("path", table).load()
        .filter(col("skew") > cut)
      val est = q.queryExecution.optimizedPlan.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.stats.rowCount
      }.flatten
      assert(est.isDefined, "CBO must estimate the filtered row count")
      val e = est.get.toDouble
      assert(e < truth * 2.5 && e > truth / 2.5,
        s"histogram selectivity must land near truth: est $e vs truth $truth " +
          s"(uniform would say $uniformEst)")
      // the histogram flowed through V2 stats into catalyst ColumnStat
      val cstat = q.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.stats.attributeStats
      }.get.toSeq.collectFirst { case (a, cs) if a.name == "skew" => cs }
      assert(cstat.exists(_.histogram.isDefined),
        "catalyst ColumnStat.histogram must be populated from the V2 surface")
    }

    // distributed plan-time path: histogram survives the executor-side
    // KLL merge (bin geometry within sketch tolerance of the driver's)
    spark.conf.set("spark.graft.ndv.driverBytesMax", "1")
    try {
      val dist = NdvStats.stats(spark, m.ndvFile, SnapshotStore.dataFiles(spark, m))
      assert(dist("skew").histogram.isDefined,
        "the distributed union must also produce the histogram")
      val (_, db) = dist("skew").histogram.get
      assert(db.length === bins.length)
      assert(math.abs(db.head._1 - bins.head._1) <= math.max(1.0, 0.05 * (mx - mn)) &&
        math.abs(db.last._2 - bins.last._2) <= math.max(1.0, 0.05 * (mx - mn)),
        "distributed and driver merges must agree on the value domain")
    } finally spark.conf.unset("spark.graft.ndv.driverBytesMax")
  }

  test("CALL system.analyze publishes through SQL") {
    val wh = java.nio.file.Files.createTempDirectory("ndv-sql").toString
    val cat = "gndv_" + java.util.UUID.randomUUID.toString.take(8).replace("-", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      SnapshotStore.commit(graft.sources.Tables.nation(spark, sf()), s"$wh/dims/nation")
      val v = spark.sql(
        s"CALL $cat.system.analyze('dims.nation', 'n_regionkey,n_nationkey')")
        .head().getLong(0)
      val m = SnapshotStore.manifest(spark, s"$wh/dims/nation", v)
      val est = NdvStats.estimates(spark, m.ndvFile, SnapshotStore.dataFiles(spark, m))
      assert(est("n_regionkey") === ((5L, 0L)) && est("n_nationkey") === ((25L, 0L)))
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }
}
