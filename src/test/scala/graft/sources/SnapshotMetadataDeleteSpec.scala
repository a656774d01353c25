package graft.sources

import graft.SparkSuite
import graft.store.SnapshotStore
import org.apache.spark.sql.functions._

/** Metadata-only DELETE (`SupportsDeleteV2`): a DELETE whose predicate
  * provably classifies every data file as all-match or none-match from
  * the stats sidecar executes as a pure manifest edit — whole files
  * drop, no job runs, no data file or footer is opened. Anything
  * ambiguous falls back to the copy-on-write row-level plan. */
class SnapshotMetadataDeleteSpec extends SparkSuite {

  private def withCatalog(test: (String, String) => Unit): Unit = {
    val wh = java.nio.file.Files.createTempDirectory("mdel-wh").toString
    val cat = "gmd_" + java.util.UUID.randomUUID.toString.take(8).replace("-", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try test(cat, wh)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  private def headManifest(table: String): SnapshotStore.Manifest = {
    val v = SnapshotStore.currentVersion(spark, table).get
    SnapshotStore.manifest(spark, table, v)
  }

  test("file-separable DELETE is a manifest edit: files drop, no footer opens, no new data") {
    withCatalog { (cat, wh) =>
      val table = s"$wh/facts/orders"
      val orders = graft.sources.Tables.orders(spark, sf())
      val cut = orders.agg(expr("percentile_approx(o_orderkey, 0.5)")).head().getLong(0)
      SnapshotStore.commit(orders.where(col("o_orderkey") < cut).repartition(2), table)
      SnapshotStore.appendCommit(orders.where(col("o_orderkey") >= cut).repartition(2), table)
      val before = headManifest(table)
      assert(before.files.size === 4)

      val footers0 = SnapshotScanProbe.plannerFooterReads
      spark.sql(s"DELETE FROM $cat.facts.orders WHERE o_orderkey >= $cut")

      val after = headManifest(table)
      assert(after.op === "delete-files",
        s"expected a metadata-only delete commit, got op=${after.op}")
      assert(after.files.toSet.subsetOf(before.files.toSet),
        "a metadata delete must only DROP files, never stage new ones")
      assert(after.files.size === 2)
      assert(SnapshotScanProbe.plannerFooterReads === footers0,
        "metadata delete must not open any data-file footer")

      val got = spark.sql(s"SELECT count(*) c, sum(o_orderkey) s FROM $cat.facts.orders").head()
      val want = orders.where(col("o_orderkey") < cut)
        .agg(count(lit(1)), sum(col("o_orderkey"))).head()
      assert(got.getLong(0) === want.getLong(0))
      assert(got.getLong(1) === want.getLong(1))
    }
  }

  test("retention shape: DATE predicate classifies via epoch-day normalization") {
    withCatalog { (cat, wh) =>
      val table = s"$wh/facts/odate"
      val orders = graft.sources.Tables.orders(spark, sf())
      val cut = "1997-01-01"
      SnapshotStore.commit(
        orders.filter(col("o_orderdate") < lit(cut).cast("date")).repartition(2), table)
      SnapshotStore.appendCommit(
        orders.filter(col("o_orderdate") >= lit(cut).cast("date")).repartition(2), table)
      spark.sql(s"DELETE FROM $cat.facts.odate WHERE o_orderdate >= DATE'$cut'")
      val m = headManifest(table)
      assert(m.op === "delete-files",
        s"date retention delete must be metadata-only, got op=${m.op}")
      assert(spark.sql(s"SELECT count(*) FROM $cat.facts.odate").head().getLong(0)
        === orders.filter(col("o_orderdate") < lit(cut).cast("date")).count())
    }
  }

  test("mid-file predicate falls back to copy-on-write; answers agree") {
    withCatalog { (cat, wh) =>
      val table = s"$wh/facts/orders2"
      val orders = graft.sources.Tables.orders(spark, sf())
      SnapshotStore.commit(orders.repartition(3), table)
      // hash-partitioned files all span the key range → every file is
      // ambiguous for a range predicate → the row-level plan must run
      val cut = orders.agg(expr("percentile_approx(o_orderkey, 0.5)")).head().getLong(0)
      spark.sql(s"DELETE FROM $cat.facts.orders2 WHERE o_orderkey >= $cut")
      assert(headManifest(table).op === "delete-cow",
        "ambiguous files must route through the row-level copy-on-write plan")
      val got = spark.sql(s"SELECT count(*) FROM $cat.facts.orders2").head().getLong(0)
      assert(got === orders.where(col("o_orderkey") < cut).count())
    }
  }

  test("provably-empty DELETE is a no-op: no version is published") {
    withCatalog { (cat, wh) =>
      val table = s"$wh/facts/orders3"
      val orders = graft.sources.Tables.orders(spark, sf())
      SnapshotStore.commit(orders.repartition(2), table)
      val hi = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val v0 = SnapshotStore.currentVersion(spark, table).get
      spark.sql(s"DELETE FROM $cat.facts.orders3 WHERE o_orderkey > $hi")
      assert(SnapshotStore.currentVersion(spark, table).get === v0,
        "a DELETE matching nothing must not publish a contentless version")
      assert(spark.sql(s"SELECT count(*) FROM $cat.facts.orders3").head().getLong(0)
        === orders.count())
    }
  }

  test("deleting EVERY row declines the metadata path; copy-on-write leaves a 0-row table") {
    withCatalog { (cat, wh) =>
      val table = s"$wh/facts/orders4"
      val orders = graft.sources.Tables.orders(spark, sf())
      SnapshotStore.commit(orders.repartition(2), table)
      val lo = orders.agg(min(col("o_orderkey"))).head().getLong(0)
      // every file is all-match → the keep set would be EMPTY, which no
      // manifest can express → the metadata path declines and the
      // row-level plan runs, staging one schema-bearing empty file
      spark.sql(s"DELETE FROM $cat.facts.orders4 WHERE o_orderkey >= $lo")
      val m = headManifest(table)
      assert(m.op === "delete-cow",
        "delete-everything must route through the row-level plan")
      assert(spark.sql(s"SELECT count(*) FROM $cat.facts.orders4").head().getLong(0) === 0L)
      // the emptied table still has a readable schema
      assert(spark.table(s"$cat.facts.orders4").schema.fieldNames.contains("o_orderkey"))
    }
  }

  test("null semantics: IS NULL drops all-null files, keeps null-free ones") {
    withCatalog { (cat, wh) =>
      val table = s"$wh/facts/mixed"
      import spark.implicits._
      val withNulls = Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
        .toDF("k", "tag")
      val noNulls = Seq((3L, Some("a")), (4L, Some("b"))).toDF("k", "tag")
      SnapshotStore.commit(withNulls.coalesce(1), table)
      SnapshotStore.appendCommit(noNulls.coalesce(1), table)
      spark.sql(s"DELETE FROM $cat.facts.mixed WHERE tag IS NULL")
      val m = headManifest(table)
      assert(m.op === "delete-files", s"IS NULL over proof-clean files should be metadata-only, got ${m.op}")
      assert(spark.sql(s"SELECT k FROM $cat.facts.mixed ORDER BY k").as[Long].collect()
        .toSeq === Seq(3L, 4L))
    }
  }

  test("signed zero: -0.0 rows satisfy = 0.0 through stats classification") {
    withCatalog { (cat, wh) =>
      val table = s"$wh/facts/szero"
      import spark.implicits._
      val negZ = Seq((1L, -0.0), (2L, -0.0)).toDF("k", "v")
      val fives = Seq((3L, 5.0), (4L, 5.0)).toDF("k", "v")
      SnapshotStore.commit(negZ.coalesce(1), table)
      SnapshotStore.appendCommit(fives.coalesce(1), table)
      // SQL: -0.0 = 0.0 is TRUE — the -0.0 file must classify
      // all-match (Double.compare alone would wrongly exclude it)
      spark.sql(s"DELETE FROM $cat.facts.szero WHERE v = 0.0")
      assert(spark.sql(s"SELECT k FROM $cat.facts.szero ORDER BY k")
        .as[Long].collect().toSeq === Seq(3L, 4L),
        "-0.0 rows satisfy = 0.0 and must be deleted")
      assert(headManifest(table).op === "delete-files",
        "the signed-zero file should classify via stats, not fall back")
    }
  }

  test("a concurrent DV commit's deletions survive a metadata delete (head carry-forward)") {
    withCatalog { (_, wh) =>
      val table = s"$wh/facts/race"
      import spark.implicits._
      val a = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      val b = Seq((5L, 50L), (6L, 60L)).toDF("k", "v")
      SnapshotStore.commit(a.coalesce(1), table)       // v0
      SnapshotStore.appendCommit(b.coalesce(1), table) // v1
      val stale = SnapshotStore.manifest(spark, table, 1L) // "resolved relation"
      // concurrent writer: DV-deletes k=2 (data/files untouched → the
      // head pin passes, but the DV list moved)
      SnapshotStore.deleteCommit(spark, table, Seq("k"), col("k") === 2L) // v2
      val plan = SnapshotMetadataDelete.plan(spark, stale,
        Array(new org.apache.spark.sql.connector.expressions.filter.Predicate(">=",
          Array(org.apache.spark.sql.connector.expressions.Expressions.column("k"),
            org.apache.spark.sql.connector.expressions.Expressions.literal(5L))))).get
      SnapshotMetadataDelete.execute(spark, table, stale, plan._1, plan._2)
      val head = headManifest(table)
      assert(head.op === "delete-files")
      assert(head.deletes.nonEmpty,
        "the concurrent DV must carry into the metadata-delete manifest, not resurrect k=2")
      assert(SnapshotStore.read(spark, table).select("k").as[Long].collect().toSeq === Seq(1L))
    }
  }

  test("deletion vectors carry forward across a metadata delete") {
    withCatalog { (cat, wh) =>
      val table = s"$wh/facts/dvmix"
      import spark.implicits._
      val a = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      val b = Seq((5L, 50L), (6L, 60L)).toDF("k", "v")
      SnapshotStore.commit(a.coalesce(1), table)
      // DV-delete one key of file A (scoped), then append file B
      SnapshotStore.deleteCommit(spark, table, Seq("k"), col("k") === 2L)
      SnapshotStore.appendCommit(b.coalesce(1), table)
      // metadata-delete file B wholesale; file A's DV must keep applying
      spark.sql(s"DELETE FROM $cat.facts.dvmix WHERE k >= 5")
      val m = headManifest(table)
      assert(m.op === "delete-files")
      assert(m.deletes.nonEmpty, "the scoped DV must survive the manifest edit")
      assert(spark.sql(s"SELECT k FROM $cat.facts.dvmix ORDER BY k").as[Long].collect()
        .toSeq === Seq(1L))
    }
  }
}
