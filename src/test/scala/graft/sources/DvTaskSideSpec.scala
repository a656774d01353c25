package graft.sources

import graft.SparkSuite
import graft.store.SnapshotStore
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

  test("a DV key type outside the raw-primitive set falls back to broadcast, not a failed scan") {
    val table = fresh("dvtask-dec")
    // decimal(25, 3): FIXED_LEN_BYTE_ARRAY physical — the task-side
    // raw reader cannot probe it in the right value space
    val rows = spark.range(0, 500)
      .selectExpr("id", "CAST(CAST(id AS STRING) || '.125' AS DECIMAL(25,3)) AS amt")
    SnapshotStore.commit(rows, table)
    SnapshotStore.deleteCommit(spark, table, Seq("amt"),
      pmod(col("id"), lit(5)) === 2)
    def read() = spark.read.format("graft-snapshot").option("path", table).load()
    val want = read().agg(count(lit(1)), sum("id")).collect()(0) // below cap: broadcast
    assert(want.getLong(0) === 400L)

    withTaskSideDv {
      val f0 = TaskSideDvResolver.typeFallbacks.get()
      val b0 = TaskSideDvResolver.taskSideBuilds.get()
      val q = read()
      val desc = SnapshotScanProbe.scans(q.filter(col("id") >= 0)).head.description
      assert(!desc.contains("dvTaskSide="),
        "the scan must NOT claim task-side mode for an unsupported key type")
      assert(q.agg(count(lit(1)), sum("id")).collect()(0) === want,
        "above the byte cap a decimal-keyed DV must read oracle-exact via broadcast")
      assert(TaskSideDvResolver.typeFallbacks.get() > f0,
        "the type-gap fallback counter must move")
      assert(TaskSideDvResolver.taskSideBuilds.get() === b0,
        "no executor may attempt the raw-primitive DV read")
    }
  }

  test("task-side parity across key shapes: string, timestamp, composite") {
    val table = fresh("dvtask-shapes")
    val orders = graft.sources.Tables.orders(spark, sf())
    SnapshotStore.commit(orders, table)
    // string key
    SnapshotStore.deleteCommit(spark, table, Seq("o_orderpriority"),
      col("o_orderpriority") === "1-URGENT")
    val wantStr = SnapshotStore.read(spark, table).count()
    withTaskSideDv {
      assert(spark.read.format("graft-snapshot").option("path", table).load().count()
        === wantStr, "string-key DV must resolve identically task-side")
    }

    // timestamp key (micros long in both value spaces)
    val t2 = fresh("dvtask-ts")
    SnapshotStore.commit(orders, t2)
    val cut = orders.select(min("o_orderdate")).head().get(0) // NTZ → LocalDateTime
    SnapshotStore.deleteCommit(spark, t2, Seq("o_orderdate"),
      col("o_orderdate") === lit(cut))
    val wantTs = SnapshotStore.read(spark, t2).count()
    withTaskSideDv {
      assert(spark.read.format("graft-snapshot").option("path", t2).load().count()
        === wantTs, "timestamp-key DV must resolve identically task-side")
    }

    // composite key
    val t3 = fresh("dvtask-comp")
    SnapshotStore.commit(orders, t3)
    SnapshotStore.deleteCommit(spark, t3, Seq("o_custkey", "o_orderstatus"),
      pmod(col("o_custkey"), lit(5)) === 1 && col("o_orderstatus") === "O")
    val wantComp = SnapshotStore.read(spark, t3)
      .agg(count(lit(1)), sum("o_custkey")).collect()(0)
    withTaskSideDv {
      assert(spark.read.format("graft-snapshot").option("path", t3).load()
        .agg(count(lit(1)), sum("o_custkey")).collect()(0) === wantComp,
        "composite-key DV must resolve identically task-side")
    }
  }
}
