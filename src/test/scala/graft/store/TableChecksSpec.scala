package graft.store

import graft.SparkSuite
import graft.sources.{SnapshotCatalog, SnapshotScanProbe}
import org.apache.spark.sql.functions._

/** CHECK constraints ([[TableChecks]]): ANSI `ALTER TABLE ... ADD
  * CONSTRAINT c CHECK (...)` on snapshot tables — write-time
  * enforcement on BOTH write families (Spark's native CheckInvariant
  * for SQL writes, one O(delta) pass for engine commits), add-time
  * validation of existing data, and plan-time pruning when a pushed
  * filter provably contradicts a constraint. */
class TableChecksSpec extends SparkSuite {

  private def freshCat(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("checkwh").toString
    val cat = "gchk_" + java.util.UUID.randomUUID.toString.take(8).replace("-", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  test("SQL INSERT enforcement: violating rows refuse, valid and NULL rows pass") {
    import spark.implicits._
    val (cat, wh) = freshCat()
    SnapshotStore.commit(
      Seq((1, 10.0), (2, 20.0)).toDF("id", "price"), s"$wh/facts/t")
    spark.sql(s"ALTER TABLE $cat.facts.t ADD CONSTRAINT price_pos CHECK (price > 0)")

    // violating INSERT refused by Spark's own CheckInvariant
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.facts.t VALUES (3, -5.0)")
    }
    assert(e.getMessage.toLowerCase.contains("check") ||
      e.getMessage.contains("price_pos"), s"error must name the constraint: ${e.getMessage}")

    // valid + NULL rows pass (ANSI: a null predicate satisfies CHECK)
    spark.sql(s"INSERT INTO $cat.facts.t VALUES (3, 30.0), (4, CAST(NULL AS DOUBLE))")
    assert(spark.sql(s"SELECT count(*) FROM $cat.facts.t").collect()(0).getLong(0) === 4L)
  }

  test("engine appendCommit enforcement: one O(delta) pass, violation names the constraint") {
    import spark.implicits._
    val (cat, wh) = freshCat()
    val t = s"$wh/facts/t2"
    SnapshotStore.commit(Seq((1, 10.0)).toDF("id", "price"), t)
    spark.sql(s"ALTER TABLE $cat.facts.t2 ADD CONSTRAINT price_pos CHECK (price > 0)")

    val e = intercept[IllegalArgumentException] {
      SnapshotStore.appendCommit(Seq((2, -1.0)).toDF("id", "price"), t)
    }
    assert(e.getMessage.contains("price_pos"), e.getMessage)
    SnapshotStore.appendCommit(Seq((2, 2.0), (3, Double.NaN)).toDF("id", "price"), t)
    assert(SnapshotStore.read(spark, t).count() === 3L)
  }

  test("ADD CONSTRAINT validates existing data; DROP CONSTRAINT restores writes") {
    import spark.implicits._
    val (cat, wh) = freshCat()
    val t = s"$wh/facts/t3"
    SnapshotStore.commit(Seq((1, -3.0), (2, 5.0)).toDF("id", "price"), t)
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.facts.t3 ADD CONSTRAINT price_pos CHECK (price > 0)")
    }
    // Spark 4.1 validates ahead of alterTable (NEW_CHECK_CONSTRAINT_
    // VIOLATION); TableChecks.validateExisting guards programmatic
    // callers with its own message
    assert(e.getMessage.contains("existing rows violate") ||
      e.getMessage.contains("violated by existing data"), e.getMessage)

    // fix the data, add, then drop — writes free again
    spark.sql(s"DELETE FROM $cat.facts.t3 WHERE price < 0")
    spark.sql(s"ALTER TABLE $cat.facts.t3 ADD CONSTRAINT price_pos CHECK (price > 0)")
    intercept[Exception] {
      SnapshotStore.appendCommit(Seq((9, -9.0)).toDF("id", "price"), t)
    }
    spark.sql(s"ALTER TABLE $cat.facts.t3 DROP CONSTRAINT price_pos")
    SnapshotStore.appendCommit(Seq((9, -9.0)).toDF("id", "price"), t)
    assert(SnapshotStore.read(spark, t).count() === 2L)
  }

  test("plan-time pruning: a filter contradicting a CHECK empties the scan before any IO") {
    val (cat, wh) = freshCat()
    val t = s"$wh/facts/orders"
    SnapshotStore.commit(graft.sources.Tables.orders(spark, sf()), t)
    spark.sql(
      s"ALTER TABLE $cat.facts.orders ADD CONSTRAINT price_pos CHECK (o_totalprice >= 0)")

    val read = spark.read.format("graft-snapshot").option("path", t).load()
    val footers0 = SnapshotScanProbe.plannerFooterReads
    val neg = read.filter(col("o_totalprice") < 0)
    assert(neg.collect().length === 0)
    assert(SnapshotScanProbe.scans(neg).head.constraintPrunedFiles > 0,
      "the contradicting filter must empty the scan from the constraint alone")
    assert(SnapshotScanProbe.plannerFooterReads === footers0,
      "constraint pruning must not open footers")

    // a compatible filter is untouched — and still correct
    val want = graft.sources.Tables.orders(spark, sf())
      .filter(col("o_totalprice") > 100000.0).count()
    val pos = read.filter(col("o_totalprice") > 100000.0)
    assert(pos.collect().length === want)
    assert(SnapshotScanProbe.scans(pos).head.constraintPrunedFiles === 0,
      "a satisfiable filter must not constraint-prune")
  }

  test("time-traveled scans never constraint-prune: old snapshots may predate the CHECK") {
    import spark.implicits._
    val (cat, wh) = freshCat()
    val t = s"$wh/facts/tt"
    // v0 holds a row that VIOLATES a constraint added later (the
    // violating row is deleted before ADD, so add-time validation
    // passes) — `VERSION AS OF 0 WHERE price < 0` must return it,
    // not a silently-empty constraint-pruned scan.
    SnapshotStore.commit(Seq((1, -3.0), (2, 5.0)).toDF("id", "price"), t)
    spark.sql(s"DELETE FROM $cat.facts.tt WHERE price < 0")
    spark.sql(s"ALTER TABLE $cat.facts.tt ADD CONSTRAINT price_pos CHECK (price >= 0)")

    val old = spark.sql(s"SELECT id, price FROM $cat.facts.tt VERSION AS OF 0 WHERE price < 0")
    assert(old.collect().map(_.getInt(0)).toSeq === Seq(1),
      "the pinned old snapshot legitimately violates the later-added CHECK")
    assert(SnapshotScanProbe.scans(old).head.constraintPrunedFiles === 0,
      "constraint pruning must not fire on a non-head manifest")

    // head scans still prune (the optimization survives the gate)
    val head = spark.sql(s"SELECT * FROM $cat.facts.tt WHERE price < 0")
    assert(head.collect().length === 0)
    assert(SnapshotScanProbe.scans(head).head.constraintPrunedFiles > 0,
      "head scans must still constraint-prune")
  }

  test("RENAME/DROP COLUMN refuse while a CHECK references the column") {
    import spark.implicits._
    val (cat, wh) = freshCat()
    val t = s"$wh/facts/rc"
    SnapshotStore.commit(Seq((1, 10.0), (2, 20.0)).toDF("id", "price"), t)
    spark.sql(s"ALTER TABLE $cat.facts.rc ADD CONSTRAINT price_pos CHECK (price >= 0)")

    // the stored predicate SQL re-parses on every write: retiring the
    // name would leave the table unwritable (rename) or let a future
    // re-ADDed 'price' silently re-bind the constraint (drop)
    val er = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.facts.rc RENAME COLUMN price TO amount")
    }
    assert(er.getMessage.contains("price_pos"), er.getMessage)
    val ed = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.facts.rc DROP COLUMN price")
    }
    assert(ed.getMessage.contains("price_pos"), ed.getMessage)

    // unreferenced columns stay free, and dropping the CHECK unblocks
    spark.sql(s"ALTER TABLE $cat.facts.rc RENAME COLUMN id TO rid")
    spark.sql(s"ALTER TABLE $cat.facts.rc DROP CONSTRAINT price_pos")
    spark.sql(s"ALTER TABLE $cat.facts.rc RENAME COLUMN price TO amount")
    assert(SnapshotStore.read(spark, t).columns.toSeq === Seq("rid", "amount"))
  }

  test("branches inherit CHECKs at fork; fastForward validates late-added ones") {
    import spark.implicits._
    val (cat, wh) = freshCat()
    val t = s"$wh/facts/wap"
    SnapshotStore.commit(Seq((1, 10.0)).toDF("id", "price"), t)
    spark.sql(s"ALTER TABLE $cat.facts.wap ADD CONSTRAINT price_pos CHECK (price >= 0)")

    // fork AFTER the constraint: the branch inherits it, so a branch
    // write enforcing nothing can't smuggle violating rows to main
    val br = SnapshotStore.createBranch(spark, t, "audit")
    val e = intercept[Exception] {
      SnapshotStore.appendCommit(Seq((2, -5.0)).toDF("id", "price"), br)
    }
    assert(e.getMessage.contains("price_pos"),
      s"branch writes must enforce the inherited CHECK: ${e.getMessage}")
    SnapshotStore.appendCommit(Seq((2, 5.0)).toDF("id", "price"), br)
    SnapshotStore.fastForward(spark, t, "audit")
    assert(SnapshotStore.read(spark, t).count() === 2L)

    // constraint added on MAIN mid-branch (no version bump, so the
    // moved-main guard can't see it): fastForward must validate the
    // branch rows against it and refuse the violating publish
    val t2 = s"$wh/facts/wap2"
    SnapshotStore.commit(Seq((1, 10.0)).toDF("id", "price"), t2)
    val br2 = SnapshotStore.createBranch(spark, t2, "late")
    SnapshotStore.appendCommit(Seq((2, -5.0)).toDF("id", "price"), br2)
    spark.sql(s"ALTER TABLE $cat.facts.wap2 ADD CONSTRAINT price_pos CHECK (price >= 0)")
    val e2 = intercept[Exception] { SnapshotStore.fastForward(spark, t2, "late") }
    assert(e2.getMessage.contains("price_pos"), e2.getMessage)
    assert(SnapshotStore.read(spark, t2).count() === 1L, "the refused publish changed nothing")
  }

  test("a branch's NOT ENFORCED copy of a main CHECK does not skip fastForward validation") {
    import spark.implicits._
    val (cat, wh) = freshCat()
    val t = s"$wh/facts/wap3"
    SnapshotStore.commit(Seq((1, 10.0)).toDF("id", "price"), t)
    spark.sql(s"ALTER TABLE $cat.facts.wap3 ADD CONSTRAINT price_pos CHECK (price >= 0)")
    val br = SnapshotStore.createBranch(spark, t, "loose")
    // drop the inherited copy and re-add it NOT ENFORCED on the branch:
    // same name, same predicate, but it validated nothing — branch
    // writes now accept violating rows
    TableChecks.drop(spark, br, "price_pos")
    TableChecks.add(spark, br,
      TableChecks.Check("price_pos", "price >= 0", enforced = false, rely = false))
    SnapshotStore.appendCommit(Seq((2, -5.0)).toDF("id", "price"), br)
    // the name+predicate match alone must NOT satisfy the publish gate
    val e = intercept[Exception] { SnapshotStore.fastForward(spark, t, "loose") }
    assert(e.getMessage.contains("price_pos"),
      s"fastForward must scan rows a non-enforced branch copy never validated: ${e.getMessage}")
    assert(SnapshotStore.read(spark, t).count() === 1L, "the refused publish changed nothing")
  }

  test("constraints survive commits and show through Table.constraints()") {
    import spark.implicits._
    val (cat, wh) = freshCat()
    val t = s"$wh/facts/t4"
    SnapshotStore.commit(Seq((1, 5.0)).toDF("id", "price"), t)
    spark.sql(s"ALTER TABLE $cat.facts.t4 ADD CONSTRAINT price_pos CHECK (price > 0)")
    SnapshotStore.appendCommit(Seq((2, 6.0)).toDF("id", "price"), t)
    graft.ops.Bucketing.compactCommit(spark, t, 128L * 1024 * 1024)

    val cs = spark.sessionState.catalogManager.catalog(cat).asInstanceOf[SnapshotCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("facts"), "t4"))
      .constraints()
    assert(cs.length === 1 && cs(0).name === "price_pos" && cs(0).enforced,
      s"constraint must survive append + compaction, got ${cs.toSeq}")
    // duplicate name refused
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.facts.t4 ADD CONSTRAINT price_pos CHECK (price > 1)")
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
  }

  test("streaming sink enforces CHECK constraints per row") {
    val (cat, wh) = freshCat()
    val t = s"$wh/facts/stream_t"
    val ckpt = java.nio.file.Files.createTempDirectory("checkck").toString
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    SnapshotStore.commit(spark.range(0).selectExpr("id", "CAST(id AS DOUBLE) AS price"), t)
    spark.sql(s"ALTER TABLE $cat.facts.stream_t ADD CONSTRAINT price_pos CHECK (price > 0)")

    val input = MemoryStream[Long]
    val q = input.toDF().selectExpr("value AS id", "CAST(value AS DOUBLE) - 5.0 AS price")
      .writeStream.format("graft-snapshot").option("path", t)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      input.addData(10L, 20L) // prices 5, 15 — pass
      q.processAllAvailable()
      assert(SnapshotStore.read(spark, t).count() === 2L)
      input.addData(3L) // price -2 — must refuse the batch
      val e = intercept[Exception] { q.processAllAvailable() }
      val msg = Option(e.getMessage).getOrElse("") +
        Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains("price_pos") || msg.toLowerCase.contains("check"),
        s"failure must name the constraint: $msg")
      assert(SnapshotStore.read(spark, t).count() === 2L,
        "the violating batch must not commit")
    } finally scala.util.Try(q.stop())
  }

  test("row-level UPDATE/MERGE enforce CHECK constraints") {
    import spark.implicits._
    val (cat, wh) = freshCat()
    val t = s"$wh/facts/rl"
    SnapshotStore.commit(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "price"), t)
    spark.sql(s"ALTER TABLE $cat.facts.rl ADD CONSTRAINT price_pos CHECK (price > 0)")

    val e = intercept[Exception] {
      spark.sql(s"UPDATE $cat.facts.rl SET price = -1.0 WHERE id = 1")
    }
    assert((e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse(""))
      .toLowerCase.contains("check"), s"UPDATE must enforce: ${e.getMessage}")
    spark.sql(s"UPDATE $cat.facts.rl SET price = 11.0 WHERE id = 1")
    assert(SnapshotStore.read(spark, t).filter(col("id") === 1).collect()(0).getDouble(1) === 11.0)

    Seq((2L, -7.0), (3L, 30.0)).toDF("id", "price").createOrReplaceTempView("rl_src")
    val e2 = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO $cat.facts.rl t USING rl_src s ON t.id = s.id
            WHEN MATCHED THEN UPDATE SET price = s.price
            WHEN NOT MATCHED THEN INSERT *""")
    }
    assert((e2.getMessage + Option(e2.getCause).map(_.getMessage).getOrElse(""))
      .toLowerCase.contains("check"), s"MERGE must enforce: ${e2.getMessage}")
  }
}
