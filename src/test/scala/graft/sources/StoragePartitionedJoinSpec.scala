package graft.sources

import graft.SparkSuite
import graft.store.SnapshotStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Storage-partitioned joins: two snapshot tables bucketed by the same
  * key ([[SnapshotStore.bucketedCommit]]) join through the catalog with
  * NO shuffle on either side — the scan reports
  * `KeyGroupedPartitioning(bucket(n, col))`, the catalog serves the
  * `bucket` function for transform resolution, and Spark zips matching
  * bucket ids instead of exchanging 2× the data. The write-once
  * shuffle amortized over every read is the fact⨝fact answer at
  * 100 TB. */
class StoragePartitionedJoinSpec extends SparkSuite {

  private def shuffles(df: DataFrame): Int = SparkSuite.countExchanges(df)

  private def withSpjConfs(body: => Unit): Unit = {
    val saved = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled"),
      "spark.sql.autoBroadcastJoinThreshold" -> spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold"))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a real (non-broadcast) join
    try body
    finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("co-bucketed snapshot tables join with ZERO shuffles; values exact") {
    val wh = java.nio.file.Files.createTempDirectory("spj-wh").toString
    spark.conf.set("spark.sql.catalog.spjcat", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjcat.warehouse", wh)
    try withSpjConfs {
      val orders = graft.sources.Tables.orders(spark, sf("sf0.01"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val lineitem = graft.sources.Tables.lineitem(spark, sf("sf0.01"))
        .select("l_orderkey", "l_quantity", "l_extendedprice")
      SnapshotStore.bucketedCommit(orders, s"$wh/fact/orders_b", Seq("o_orderkey"), 8)
      SnapshotStore.bucketedCommit(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        s"$wh/fact/lineitem_b", Seq("o_orderkey"), 8)

      val joined = spark.sql(
        """SELECT o.o_orderkey, o.o_totalprice, l.l_quantity
           FROM spjcat.fact.orders_b o JOIN spjcat.fact.lineitem_b l
           USING (o_orderkey)""")
      val nShuffles = shuffles(joined)
      assert(nShuffles === 0,
        s"co-bucketed join should be storage-partitioned (0 exchanges), saw $nShuffles:\n" +
          joined.queryExecution.executedPlan)

      val expect = orders.join(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey")
        .selectExpr("o_orderkey", "o_totalprice", "l_quantity")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sorted.toSeq
      val got = joined
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sorted.toSeq
      assert(got === expect)
    } finally {
      spark.conf.unset("spark.sql.catalog.spjcat.warehouse")
      spark.conf.unset("spark.sql.catalog.spjcat")
    }
  }

  test("control: the same join over UNBUCKETED snapshot tables shuffles both sides") {
    val wh = java.nio.file.Files.createTempDirectory("spj-wh-ctl").toString
    spark.conf.set("spark.sql.catalog.spjctl", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjctl.warehouse", wh)
    try withSpjConfs {
      val orders = graft.sources.Tables.orders(spark, sf("sf0.01"))
        .select("o_orderkey", "o_totalprice")
      SnapshotStore.commit(orders, s"$wh/fact/plain_a")
      SnapshotStore.commit(orders.withColumnRenamed("o_totalprice", "p2"), s"$wh/fact/plain_b")
      val joined = spark.sql(
        "SELECT a.o_orderkey FROM spjctl.fact.plain_a a JOIN spjctl.fact.plain_b b USING (o_orderkey)")
      assert(shuffles(joined) >= 2, "unbucketed join should exchange both sides")
    } finally {
      spark.conf.unset("spark.sql.catalog.spjctl.warehouse")
      spark.conf.unset("spark.sql.catalog.spjctl")
    }
  }

  test("aggregation on the bucket key over a bucketed table plans without a shuffle") {
    val wh = java.nio.file.Files.createTempDirectory("spj-agg").toString
    spark.conf.set("spark.sql.catalog.spjagg", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjagg.warehouse", wh)
    try withSpjConfs {
      val orders = graft.sources.Tables.orders(spark, sf("sf0.01"))
        .select("o_orderkey", "o_totalprice")
      SnapshotStore.bucketedCommit(orders, s"$wh/fact/ob", Seq("o_orderkey"), 8)
      val agg = spark.sql(
        "SELECT o_orderkey, sum(o_totalprice) AS v FROM spjagg.fact.ob GROUP BY o_orderkey")
      val n = shuffles(agg)
      assert(n === 0,
        s"groupBy on the bucket key should reuse the storage partitioning, saw $n:\n" +
          agg.queryExecution.executedPlan)
      assert(agg.count() === orders.select("o_orderkey").distinct().count())
    } finally {
      spark.conf.unset("spark.sql.catalog.spjagg.warehouse")
      spark.conf.unset("spark.sql.catalog.spjagg")
    }
  }

  test("streaming sink into a bucketed table routes rows and keeps the layout — or drops it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("spj-stream").toString
    val t = s"$root/t"
    val ckpt = s"$root/ckpt"
    SnapshotStore.bucketedCommit(spark.range(0).toDF("id"), t, Seq("id"), 4)
    val input = MemoryStream[Long]
    val q = input.toDF().selectExpr("value AS id")
      .writeStream.format("graft-snapshot").option("path", t)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      input.addData(0L until 64L: _*); q.processAllAvailable()
    } finally q.stop()
    val head = SnapshotStore.manifest(spark, t,
      SnapshotStore.currentVersion(spark, t).get)
    assert(SnapshotStore.read(spark, t).count() === 64)
    if (head.bucketN > 0) {
      // the tag survived — then EVERY file's rows must hash to its id
      // (a kept tag over mis-routed files would silently corrupt
      // storage-partitioned joins)
      val bound = BucketFunction.bind(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType))))
        .asInstanceOf[org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
      graft.store.SnapshotStore.dataFiles(spark, head).foreach { f =>
        val id = SnapshotScan.bucketIdOf(f, head.bucketN)
        assert(id >= 0, s"bucketed manifest holds an unmapped file: $f")
        spark.read.parquet(f).collect().foreach { r =>
          val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](head.bucketN, r.getLong(0)))
          assert(bound.produceResult(row) === id,
            s"row ${r.getLong(0)} mis-routed into bucket file $f")
        }
      }
    }
  }

  test("compaction keeps the bucketed layout: small-file merge AND the DV-clearing full rewrite") {
    val t = java.nio.file.Files.createTempDirectory("spj-compact").toString + "/t"
    SnapshotStore.bucketedCommit(spark.range(0, 200).toDF("id"), t, Seq("id"), 4)
    // leave small-file debris via three routed appends
    (1 to 3).foreach(g =>
      SnapshotStore.appendCommit(spark.range(200L * g, 200L * g + 50).toDF("id"), t))
    val (rewritten, _, _, v) = graft.ops.Bucketing.compactSmallFilesCommit(
      spark, t, smallBytes = 1L << 20, targetBytes = 1L << 30)
    assert(rewritten >= 2, s"fixture should have merged the small tail: $rewritten")
    val mc = SnapshotStore.manifest(spark, t, v)
    assert(mc.bucketN === 4, s"small-file compaction lost the layout: $mc")
    // every file (merged included) holds only rows of its own bucket
    val bound = BucketFunction.bind(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType))))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
    def assertRouted(m: SnapshotStore.Manifest): Unit =
      graft.store.SnapshotStore.dataFiles(spark, m).foreach { f =>
        val id = SnapshotScan.bucketIdOf(f, m.bucketN)
        assert(id >= 0, s"bucketed manifest holds an unmapped file: $f")
        spark.read.parquet(f).collect().foreach { r =>
          val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](m.bucketN, r.getLong(0)))
          assert(bound.produceResult(row) === id, s"row ${r.getLong(0)} mis-routed in $f")
        }
      }
    assertRouted(mc)
    assert(SnapshotStore.read(spark, t).count() === 350)
    // DV delete, then the full compact: DVs materialize away, layout stays
    SnapshotStore.deleteCommit(spark, t, Seq("id"), col("id") < 10)
    val (_, _, _, v2) = graft.ops.Bucketing.compactCommit(spark, t, targetBytes = 1L << 30)
    val m2 = SnapshotStore.manifest(spark, t, v2)
    assert(m2.deletes.isEmpty && m2.bucketN === 4, s"full compact lost DV-clearing or layout: $m2")
    assertRouted(m2)
    assert(SnapshotStore.read(spark, t).count() === 340)
  }

  test("path-based reads of bucketed tables degrade gracefully (no catalog = no SPJ, still exact)") {
    val t = java.nio.file.Files.createTempDirectory("spj-path").toString + "/t"
    withSpjConfs {
      SnapshotStore.bucketedCommit(
        spark.range(0, 500).toDF("id").withColumn("v", col("id") * 2), t, Seq("id"), 4)
      // a path-based load has no FunctionCatalog to resolve bucket(n, id)
      // against — Spark must plan WITHOUT key grouping, not crash
      val df = spark.read.format("graft-snapshot").option("path", t).load()
      val joined = df.join(df.withColumnRenamed("v", "v2"), "id")
      assert(joined.count() === 500)
      assert(df.filter(col("id") === 123L).count() === 1)
    }
  }

  test("bucket function matches the writer's route exactly (HashPartitioning parity)") {
    val bound = BucketFunction.bind(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType))))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
    // the authority: where repartition(n, col) actually sent each key
    val n = 8
    val placed = spark.range(0, 1000).toDF("k")
      .repartition(n, col("k"))
      .withColumn("pid", org.apache.spark.sql.functions.spark_partition_id())
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    placed.foreach { case (k, pid) =>
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](n, k))
      assert(bound.produceResult(row) === pid, s"bucket($n, $k) diverged from repartition")
    }
  }

  test("SQL CTAS with PARTITIONED BY (bucket(n, key)) creates a co-locatable table") {
    val wh = java.nio.file.Files.createTempDirectory("spj-ctas").toString
    spark.conf.set("spark.sql.catalog.spjc", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjc.warehouse", wh)
    try withSpjConfs {
      val orders = graft.sources.Tables.orders(spark, sf("sf0.01"))
      SnapshotStore.commit(orders, s"$wh/fact/orders_src")
      spark.sql(
        """CREATE TABLE spjc.fact.orders_ctas
           PARTITIONED BY (bucket(8, o_orderkey))
           AS SELECT o_orderkey, o_totalprice FROM spjc.fact.orders_src""")
      val m = SnapshotStore.manifest(spark, s"$wh/fact/orders_ctas", 0L)
      assert(m.bucketN === 8 && m.bucketCols === Seq("o_orderkey"), s"layout not recorded: $m")
      assert(m.statsFile.nonEmpty, "CTAS v0 must carry a stats sidecar")
      // rows landed in their hash buckets: joins against a bucketedCommit
      // twin plan shuffle-free AND value-exact
      SnapshotStore.bucketedCommit(
        orders.select(col("o_orderkey"), col("o_orderpriority")),
        s"$wh/fact/orders_twin", Seq("o_orderkey"), 8)
      val j = spark.sql(
        """SELECT a.o_orderkey, b.o_orderpriority FROM spjc.fact.orders_ctas a
           JOIN spjc.fact.orders_twin b USING (o_orderkey)""")
      assert(shuffles(j) === 0, s"CTAS-bucketed join shuffled:\n${j.queryExecution.executedPlan}")
      assert(j.count() === orders.count())
      // identity/time transforms are a SUPPORTED layout since round-12
      // (PartitionedTableSpec); what stays refused is MIXING them with
      // bucket — a bucket layout is an all-files zip contract
      val e = intercept[Exception](spark.sql(
        """CREATE TABLE spjc.fact.bad
           PARTITIONED BY (bucket(4, o_orderkey), o_orderkey)
           AS SELECT o_orderkey FROM spjc.fact.orders_src"""))
      assert(e.getMessage.contains("cannot mix bucket"),
        s"refusal should name the mixing contract: ${e.getMessage}")
    } finally {
      spark.conf.unset("spark.sql.catalog.spjc.warehouse")
      spark.conf.unset("spark.sql.catalog.spjc")
    }
  }

  test("bucket layout survives delete AND append commits; plain rewrite drops it") {
    val t = java.nio.file.Files.createTempDirectory("spj-inherit").toString + "/t"
    SnapshotStore.bucketedCommit(spark.range(100).toDF("id"), t, Seq("id"), 4)
    assert(SnapshotStore.manifest(spark, t, 0L).bucketN === 4)
    SnapshotStore.deleteCommit(spark, t, Seq("id"), col("id") < 10)
    val m1 = SnapshotStore.manifest(spark, t, 1L)
    assert(m1.bucketN === 4 && m1.bucketCols === Seq("id"), "delete must keep the layout")
    SnapshotStore.commit(spark.range(100).toDF("id"), t) // clears DVs... and the layout
    assert(SnapshotStore.manifest(spark, t, 2L).bucketN === 0,
      "a plain rewrite doesn't honor the route — the tag must drop")
    // re-establish, then append: the batch routes through the same hash
    // and the layout SURVIVES the incremental load
    SnapshotStore.bucketedCommit(SnapshotStore.read(spark, t), t, Seq("id"), 4)
    SnapshotStore.appendCommit(spark.range(100, 110).toDF("id"), t)
    val m4 = SnapshotStore.manifest(spark, t, 4L)
    assert(m4.bucketN === 4 && m4.op === "append", s"append must keep the routed layout: $m4")
    assert(SnapshotStore.read(spark, t).count() === 110)
  }

  test("appended rows land in their hash buckets: the grown table still joins shuffle-free") {
    val wh = java.nio.file.Files.createTempDirectory("spj-grow").toString
    spark.conf.set("spark.sql.catalog.spjg", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjg.warehouse", wh)
    try withSpjConfs {
      val orders = graft.sources.Tables.orders(spark, sf("sf0.01"))
        .select("o_orderkey", "o_totalprice")
      val (gen1, gen2) = (orders.filter(col("o_orderkey") % 2 === 0),
        orders.filter(col("o_orderkey") % 2 =!= 0))
      SnapshotStore.bucketedCommit(gen1, s"$wh/f/grow", Seq("o_orderkey"), 8)
      SnapshotStore.bucketedCommit(
        orders.select(col("o_orderkey")), s"$wh/f/twin", Seq("o_orderkey"), 8)
      // grow via the DSv2 SQL surface — the write itself must route
      gen2.createOrReplaceTempView("spj_gen2")
      spark.sql("INSERT INTO spjg.f.grow SELECT * FROM spj_gen2")
      val m = SnapshotStore.manifest(spark, s"$wh/f/grow", 1L)
      assert(m.op === "append" && m.bucketN === 8, s"INSERT INTO dropped the layout: $m")
      val j = spark.sql(
        "SELECT a.o_orderkey, a.o_totalprice FROM spjg.f.grow a JOIN spjg.f.twin b USING (o_orderkey)")
      assert(shuffles(j) === 0, s"grown bucketed join shuffled:\n${j.queryExecution.executedPlan}")
      val got = j.collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      val expect = orders.collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      assert(got === expect, "appended generation must join value-exact")
    } finally {
      spark.conf.unset("spark.sql.catalog.spjg.warehouse")
      spark.conf.unset("spark.sql.catalog.spjg")
    }
  }
}
