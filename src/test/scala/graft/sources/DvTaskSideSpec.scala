package graft.sources

import graft.SparkSuite
import graft.store.SnapshotStore
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BIG-DV planning path: above `spark.graft.dv.driverBytesMax` the
  * driver never materializes a deletion-vector key — executors read
  * the DV parquet themselves (once per JVM), closing the documented
  * small-delta contract in code. Answers must be byte-identical to the
  * broadcast path across every key shape. */
class DvTaskSideSpec extends SparkSuite {

  private def fresh(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/t"

  private def withTaskSideDv(test: => Unit): Unit = {
    spark.conf.set("spark.graft.dv.driverBytesMax", "1")
    try test finally spark.conf.unset("spark.graft.dv.driverBytesMax")
  }

  test("task-side DV resolution: identical answers, no driver collect, builds counted") {
    val table = fresh("dvtask")
    val orders = graft.sources.Tables.orders(spark, sf())
    SnapshotStore.commit(orders.repartition(4), table)
    SnapshotStore.deleteCommit(spark, table, Seq("o_orderkey"),
      pmod(col("o_orderkey"), lit(7)) === 2)

    def read() = spark.read.format("graft-snapshot").option("path", table).load()
    val want = read().agg(count(lit(1)), sum("o_orderkey")).collect()(0) // broadcast path

    withTaskSideDv {
      val q = read()
      val desc = SnapshotScanProbe.scans(q.filter(col("o_orderkey") >= 0)).head.description
      assert(desc.contains("dvTaskSide="),
        "the scan must advertise the task-side DV mode")
      val b0 = TaskSideDvResolver.taskSideBuilds.get()
      assert(q.agg(count(lit(1)), sum("o_orderkey")).collect()(0) === want,
        "task-side and broadcast DV paths must agree")
      assert(TaskSideDvResolver.taskSideBuilds.get() > b0,
        "the executor-side build counter must move")
      // second read: the executor cache answers, no rebuild
      val b1 = TaskSideDvResolver.taskSideBuilds.get()
      q.count()
      assert(TaskSideDvResolver.taskSideBuilds.get() === b1,
        "a warm executor must not re-read the DV files")
    }
  }

  test("a decimal-keyed DV above the byte cap resolves task-side") {
    val table = fresh("dvtask-dec")
    // decimal(25, 3): FIXED_LEN_BYTE_ARRAY physical
    val rows = spark.range(0, 500)
      .selectExpr("id", "CAST(CAST(id AS STRING) || '.125' AS DECIMAL(25,3)) AS amt")
    SnapshotStore.commit(rows, table)
    SnapshotStore.deleteCommit(spark, table, Seq("amt"),
      pmod(col("id"), lit(5)) === 2)
    def read() = spark.read.format("graft-snapshot").option("path", table).load()
    val want = read().agg(count(lit(1)), sum("id")).collect()(0) // below cap: broadcast
    assert(want.getLong(0) === 400L)

    withTaskSideDv {
      val b0 = TaskSideDvResolver.taskSideBuilds.get()
      val q = read()
      val desc = SnapshotScanProbe.scans(q.filter(col("id") >= 0)).head.description
      assert(desc.contains("dvTaskSide="),
        "a decimal-keyed DV above the byte cap must resolve task-side")
      assert(q.agg(count(lit(1)), sum("id")).collect()(0) === want,
        "task-side and broadcast DV paths must agree on a decimal key")
      assert(TaskSideDvResolver.taskSideBuilds.get() > b0,
        "the executor-side build counter must move")
    }
  }

  test("task-side parity across key shapes: string, timestamp, INT96 timestamp, short, composite") {
    def dvTable(tag: String, rows: DataFrame, keys: Seq[String], cond: Column): String = {
      val t = fresh(tag)
      SnapshotStore.commit(rows, t)
      SnapshotStore.deleteCommit(spark, t, keys, cond)
      t
    }
    // the store's own anti-join read is the oracle
    def assertParity(t: String, shape: String, sumCol: String): Unit = {
      val want = SnapshotStore.read(spark, t).agg(count(lit(1)), sum(sumCol)).collect()(0)
      withTaskSideDv {
        val q = spark.read.format("graft-snapshot").option("path", t).load()
        assert(SnapshotScanProbe.scans(q.filter(col(sumCol).isNotNull)).head.description
          .contains("dvTaskSide="), s"$shape-key DV must resolve task-side")
        assert(q.agg(count(lit(1)), sum(sumCol)).collect()(0) === want,
          s"$shape-key DV must resolve identically task-side")
      }
    }
    val orders = graft.sources.Tables.orders(spark, sf())

    assertParity(dvTable("dvtask-str", orders, Seq("o_orderpriority"),
      col("o_orderpriority") === "1-URGENT"), "string", "o_orderkey")

    // TimestampNTZ key: INT64 micros
    val cut = orders.select(min("o_orderdate")).head().get(0) // NTZ → LocalDateTime
    assertParity(dvTable("dvtask-ts", orders, Seq("o_orderdate"),
      col("o_orderdate") === lit(cut)), "timestamp", "o_orderkey")

    // TimestampType key written as INT96 (Spark's legacy default)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    val t96 =
      try dvTable("dvtask-int96",
        spark.range(0, 500).selectExpr("id", "timestamp_seconds(1700000000 + id * 3600) AS ts"),
        Seq("ts"), pmod(col("id"), lit(5)) === 2)
      finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    val dvFile = {
      val d = new org.apache.hadoop.fs.Path(SnapshotStore.manifest(
        spark, t96, SnapshotStore.currentVersion(spark, t96).get).deletes.head)
      val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(d).map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    }
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        dvFile, spark.sparkContext.hadoopConfiguration))
    try {
      val schema = footer.getFileMetaData.getSchema
      assert(schema.getType(schema.getFieldIndex("ts")).asPrimitiveType
        .getPrimitiveTypeName.name === "INT96", "the DV key file must carry INT96")
    } finally footer.close()
    assertParity(t96, "INT96 timestamp", "id")

    // ShortType key: INT32 annotated INT(16)
    assertParity(dvTable("dvtask-short",
      spark.range(0, 500).selectExpr("id", "CAST(id % 100 AS SMALLINT) AS s"),
      Seq("s"), pmod(col("s"), lit(7)) === 3), "short", "id")

    assertParity(dvTable("dvtask-comp", orders, Seq("o_custkey", "o_orderstatus"),
      pmod(col("o_custkey"), lit(5)) === 1 && col("o_orderstatus") === "O"),
      "composite", "o_custkey")
  }

  test("a missing deletion-vector path fails naming it, below and above the byte cap") {
    val table = fresh("dvtask-gone")
    SnapshotStore.commit(spark.range(0, 100).toDF("id"), table)
    SnapshotStore.deleteCommit(spark, table, Seq("id"), col("id") < 10)
    val dv = SnapshotStore.manifest(spark, table,
      SnapshotStore.currentVersion(spark, table).get).deletes.head
    val dvPath = new org.apache.hadoop.fs.Path(dv)
    assert(dvPath.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dvPath, true))
    // skipping the path would bring its ten deleted rows back
    def assertNamedFailure(mode: String): Unit = {
      val e = intercept[Throwable](
        spark.read.format("graft-snapshot").option("path", table).load().collect())
      assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(c =>
        c.isInstanceOf[java.io.FileNotFoundException] && c.getMessage.contains(dv)),
        s"$mode: expected a FileNotFoundException naming $dv, got $e")
    }
    assertNamedFailure("default cap")
    withTaskSideDv(assertNamedFailure("cap = 1 byte"))
  }
}
