package graft.sources

import graft.SparkSuite
import graft.store.SnapshotStore

/** SQL stored procedures ([[SnapshotProcedures]]): the maintenance
  * surface — compaction, Z-ordering, vacuum, tags and branches — callable
  * through Spark 4's native `CALL` statement against catalog tables,
  * each returning its receipt as an ordinary result set. */
class SnapshotProceduresSpec extends SparkSuite {

  import spark.implicits._

  // one catalog NAME per test: Spark caches catalog instances by name,
  // so reusing a name across tests would pin the first test's warehouse
  private def withCatalog(body: (String, String) => Unit): Unit = {
    val wh = java.nio.file.Files.createTempDirectory("proc-wh").toString
    val cat = s"proccat${SnapshotProceduresSpec.nextId()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try body(cat, wh)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("CALL system.compact rewrites a fragmented table and re-enables appends after DVs") {
    withCatalog { (cat, wh) =>
      val t = s"$wh/m/orders"
      SnapshotStore.commit(spark.range(0, 500).toDF("id").repartition(6), t)
      SnapshotStore.deleteCommit(spark, t, Seq("id"),
        org.apache.spark.sql.functions.col("id").isin(7L, 9L))

      val receipt = spark.sql(
        s"CALL $cat.system.compact(table => 'm.orders', target_mb => 512)").collect()
      assert(receipt.length === 1)
      val r = receipt.head
      assert(r.getAs[Int]("files_before") === 6)
      assert(r.getAs[Int]("files_after") === 1) // 500 longs << 512 MB
      assert(r.getAs[Long]("version") === 2L)

      // DVs materialized away by the rewrite → append works again
      SnapshotStore.appendCommit(spark.range(500, 510).toDF("id"), t)
      val got = spark.sql(s"SELECT sum(id) AS s FROM $cat.m.orders").head().getLong(0)
      val expect = (0L until 510L).sum - 7L - 9L
      assert(got === expect)
    }
  }

  test("CALL system.compact_small_files merges only the small tail; defaults apply") {
    withCatalog { (cat, wh) =>
      val t = s"$wh/m/events"
      SnapshotStore.commit(spark.range(0, 1000).toDF("id").coalesce(1), t)
      (0 until 4).foreach { i =>
        SnapshotStore.appendCommit(
          spark.range(1000 + i * 10, 1010 + i * 10).toDF("id").coalesce(1), t)
      }
      // small_mb/target_mb come from declared defaults (16/128 MB)
      val r = spark.sql(
        s"CALL $cat.system.compact_small_files(table => 'm.events')").collect().head
      // every file here is tiny, so ALL 5 merge into one
      assert(r.getAs[Int]("files_rewritten") === 5)
      assert(r.getAs[Int]("files_linked") === 0)
      assert(r.getAs[Int]("files_after") === 1)
      val got = spark.sql(s"SELECT sum(id) AS s FROM $cat.m.events").head().getLong(0)
      assert(got === (0L until 1040L).sum)
    }
  }

  test("CALL system.zorder commits a clustered rewrite; read parity holds") {
    withCatalog { (cat, wh) =>
      val t = s"$wh/m/points"
      val df = spark.range(0, 2000).selectExpr(
        "id", "cast(id % 97 AS long) AS x", "cast(id % 89 AS long) AS y")
      SnapshotStore.commit(df.repartition(4), t)
      val r = spark.sql(
        s"CALL $cat.system.zorder(table => 'm.points', cols => 'x, y')").collect().head
      assert(r.getAs[Long]("version") === 1L)
      assert(r.getAs[Int]("files") === 4) // num_files default 0 = keep count
      val got = spark.sql(s"SELECT sum(x * y) AS s FROM $cat.m.points").head().getLong(0)
      val expect = df.selectExpr("sum(x * y)").head().getLong(0)
      assert(got === expect)
    }
  }

  test("CALL system.vacuum returns the dropped versions; positional args work") {
    withCatalog { (cat, wh) =>
      val t = s"$wh/m/hist"
      (0 until 4).foreach(i => SnapshotStore.commit(
        spark.range(0, 100 + i).toDF("id"), t))
      val r = spark.sql(s"CALL $cat.system.vacuum('m.hist', 2)").collect().head
      assert(r.getAs[Seq[Long]]("dropped_versions") === Seq(0L, 1L))
      assert(r.getAs[Int]("n_dropped") === 2)
      assert(SnapshotStore.versions(spark, t) === Seq(2L, 3L))
    }
  }

  test("CALL system.vacuum(older_than_ms) drops by wall clock, floored at keep") {
    withCatalog { (cat, wh) =>
      val t = s"$wh/m/aged"
      (0 until 4).foreach(i => SnapshotStore.commit(
        spark.range(0, 50 + i).toDF("id"), t))
      Thread.sleep(5)
      val cutoff = System.currentTimeMillis() // everything is older
      Thread.sleep(5)
      SnapshotStore.commit(spark.range(0, 99).toDF("id"), t) // v4, fresh
      // keep=2 floor: v3 survives even though it is older than the cutoff
      val r = spark.sql(
        s"CALL $cat.system.vacuum(table => 'm.aged', keep => 2, " +
          s"older_than_ms => ${cutoff}L)").collect().head
      assert(r.getAs[Seq[Long]]("dropped_versions") === Seq(0L, 1L, 2L))
      assert(SnapshotStore.versions(spark, t) === Seq(3L, 4L))
      // lowering the floor releases the grace version the cutoff covers
      val again = spark.sql(
        s"CALL $cat.system.vacuum(table => 'm.aged', keep => 1, " +
          s"older_than_ms => ${cutoff}L)").collect().head
      assert(again.getAs[Int]("n_dropped") === 1) // v3 (pre-cutoff) now collectable
      assert(SnapshotStore.versions(spark, t) === Seq(4L))
    }
  }

  test("CALL system.restore rolls the catalog table back; SELECT sees the old rows") {
    withCatalog { (cat, wh) =>
      val t = s"$wh/m/roll"
      SnapshotStore.commit(spark.range(0, 500).toDF("id"), t)  // v0
      SnapshotStore.commit(spark.range(0, 5).toDF("id"), t)    // v1: bad overwrite
      val r = spark.sql(
        s"CALL $cat.system.restore(table => 'm.roll', version => 0L)").collect().head
      assert(r.getAs[Long]("restored_from") === 0L)
      assert(r.getAs[Long]("new_version") === 2L)
      assert(spark.sql(s"SELECT count(*) FROM $cat.m.roll").head().getLong(0) === 500L)
      // the bad version stays reachable through native time travel
      assert(spark.sql(s"SELECT count(*) FROM $cat.m.roll VERSION AS OF 1").head().getLong(0) === 5L)
    }
  }

  test("CALL system.mv_create_join builds a join MV that mv_refresh maintains") {
    withCatalog { (cat, wh) =>
      SnapshotStore.commit(
        Seq((1, 10, 100L), (2, 20, 7L)).toDF("id", "cust", "cents"), s"$wh/f/t")
      SnapshotStore.commit(
        Seq((10, "A"), (20, "B")).toDF("c_id", "segment"), s"$wh/d/c")
      val created = spark.sql(
        s"""CALL $cat.system.mv_create_join(
              base => 'f.t', mv => 'marts.mv',
              dims => 'd.c:cust=c_id:segment',
              group_cols => 'segment', measure_cols => 'cents')""").head()
      assert(created.getAs[Long]("base_version") === 0L)
      val got = SnapshotStore.read(spark, s"$wh/marts/mv")
        .orderBy("segment").collect()
        .map(r => (r.getAs[String]("segment"), r.getAs[Long]("sum_cents")))
      assert(got.toSeq === Seq(("A", 100L), ("B", 7L)))
      SnapshotStore.appendCommit(
        Seq((3, 20, 3L)).toDF("id", "cust", "cents"), s"$wh/f/t")
      val r = spark.sql(s"CALL $cat.system.mv_refresh(mv => 'marts.mv')").head()
      assert(r.getAs[String]("mode") === "incremental")
      val b = SnapshotStore.read(spark, s"$wh/marts/mv")
        .filter($"segment" === "B").head()
      assert(b.getAs[Long]("n") === 2L && b.getAs[Long]("sum_cents") === 10L)
    }
  }

  test("SHOW PROCEDURES lists the surface; DESCRIBE PROCEDURE explains one") {
    val expected = Seq("compact", "compact_small_files", "zorder", "zorder_partition",
      "bloom_index", "vacuum", "restore", "create_tag", "drop_tag", "create_branch",
      "fast_forward", "drop_branch", "analyze", "mv_create", "mv_create_join",
      "mv_refresh", "evolve_partition_spec")
    withCatalog { (cat, _) =>
      val shown = spark.sql(s"SHOW PROCEDURES IN $cat.system").collect()
      val listed = expected.filter(n => shown.exists(_.toSeq.contains(n)))
      assert(listed === expected && shown.length === expected.size,
        s"SHOW PROCEDURES:\n${shown.map(_.mkString("|")).mkString("\n")}")
      expected.foreach { n =>
        val desc = spark.sql(s"DESCRIBE PROCEDURE $cat.system.$n")
          .collect().map(_.mkString("|")).mkString("\n")
        assert(desc.contains(n), s"DESCRIBE PROCEDURE $n:\n$desc")
      }
    }
  }

  test("unknown procedure refused with the available list in the cause chain") {
    withCatalog { (cat, _) =>
      val e = intercept[Exception] {
        spark.sql(s"CALL $cat.system.defragment(table => 'm.t')").collect()
      }
      val messages = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString("\n")
      assert(messages.contains("system.compact"),
        s"refusal should name the available procedures, got: $messages")
    }
  }
}

object SnapshotProceduresSpec {
  private val id = new java.util.concurrent.atomic.AtomicInteger(0)
  def nextId(): Int = id.incrementAndGet()
}
