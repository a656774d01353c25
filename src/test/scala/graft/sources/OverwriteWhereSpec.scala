package graft.sources

import graft.SparkSuite
import graft.store.{PartitionSpec, SnapshotStore}
import org.apache.spark.sql.functions._

/** Predicate-scoped atomic overwrite
  * ([[SnapshotMetadataDelete.overwriteWhere]], `SupportsOverwriteV2`):
  * `df.writeTo(t).overwrite(cond)` — the REPLACE WHERE restatement.
  * All-match files drop whole, none-match files keep their exact
  * bytes, only boundary (ambiguous) files pay a rewrite, and the whole
  * thing publishes as ONE manifest. */
class OverwriteWhereSpec extends SparkSuite {

  private def freshCat(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("owwh").toString
    val cat = "gow_" + java.util.UUID.randomUUID.toString.take(8).replace("-", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  test("date-ranged REPLACE WHERE: boundary files rewrite, distant files keep exact bytes") {
    val (cat, wh) = freshCat()
    val t = s"$wh/facts/orders"
    val orders = Tables.orders(spark, sf())
    SnapshotStore.partitionedCommit(orders, t,
      Seq(PartitionSpec.PartField("months", "o_orderdate")))
    val m0 = SnapshotStore.manifest(spark, t, 0L)
    def monthOf(f: String): Option[String] =
      f.split('/').find(_.startsWith("__gp0=")).map(_.stripPrefix("__gp0="))
    // cut MID-month so the 1997-03 files are genuinely ambiguous
    val cut = java.sql.Timestamp.valueOf("1997-03-15 00:00:00")
    val before = m0.files.filter(f => monthOf(f).exists(_ < "1997-03")).toSet
    assert(before.nonEmpty, "fixture needs provably none-match files")

    val repl = orders.filter(col("o_orderdate") >= lit(cut))
      .withColumn("o_totalprice", col("o_totalprice") * 3)
    repl.writeTo(s"$cat.facts.orders").overwrite(col("o_orderdate") >= lit(cut))

    val v1 = SnapshotStore.currentVersion(spark, t).get
    assert(v1 === 1L, "one statement, one commit")
    val m1 = SnapshotStore.manifest(spark, t, v1)
    assert(m1.op === "overwrite-where")
    assert(before.subsetOf(m1.files.toSet),
      "none-match files must keep their exact paths (zero bytes moved)")
    assert(m0.files.filter(f => monthOf(f).exists(_ > "1997-03"))
      .forall(f => !m1.files.contains(f)),
      "all-match files must drop whole")

    // row-level truth: rows >= cut replaced (tripled), rows < cut intact
    val want = orders.withColumn("o_totalprice",
      when(col("o_orderdate") >= lit(cut), col("o_totalprice") * 3)
        .otherwise(col("o_totalprice")))
      .agg(count(lit(1)), sum(round(col("o_totalprice") * 100))).head()
    val got = spark.sql(
      s"SELECT count(*), sum(round(o_totalprice * 100)) FROM $cat.facts.orders").head()
    assert(got === want)

    // survivors stayed partition-routed: a pre-cut month filter still prunes
    val early = spark.read.format("graft-snapshot").option("path", t).load()
      .filter(col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")))
      .agg(count(lit(1)))
    early.collect()
    assert(graft.sources.SnapshotScanProbe.scans(early).head.partitionPrunedFiles > 0,
      "the restated table must keep partition pruning")
  }

  test("REPLACE WHERE with an empty source deletes the matching rows; null predicates keep rows") {
    import spark.implicits._
    val (cat, wh) = freshCat()
    val t = s"$wh/facts/t2"
    SnapshotStore.commit(
      Seq((1L, Some(5.0)), (2L, None), (3L, Some(50.0))).toDF("id", "price"), t)
    // empty replacement = predicate-scoped delete; price IS NULL rows
    // do NOT match price >= 10 (SQL null semantics) and survive
    spark.sql(s"SELECT * FROM $cat.facts.t2 WHERE false").writeTo(s"$cat.facts.t2")
      .overwrite(col("price") >= lit(10.0))
    assert(spark.sql(s"SELECT id FROM $cat.facts.t2 ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L))
  }

  test("the change feed replays a REPLACE WHERE: state - removes + inserts = new table") {
    import spark.implicits._
    val (cat, wh) = freshCat()
    val t = s"$wh/facts/t4"
    SnapshotStore.commit(
      Seq((1L, 5.0), (2L, 20.0), (3L, 50.0)).toDF("id", "price").repartition(3), t)
    Seq((9L, 99.0)).toDF("id", "price").writeTo(s"$cat.facts.t4")
      .overwrite(col("price") >= lit(10.0))

    val feed = spark.read.format("graft-snapshot").option("path", t)
      .option("changeFeed", "true").option("startingVersion", 1).load()
    val removes = feed.filter(col("_change_type") === "remove")
      .select("id", "price").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val inserts = feed.filter(col("_change_type") === "insert")
      .select("id", "price").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val v0 = Set((1L, 5.0), (2L, 20.0), (3L, 50.0))
    val reconstructed = v0 -- removes ++ inserts
    val table = spark.sql(s"SELECT id, price FROM $cat.facts.t4").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(reconstructed === table,
      s"feed replay must reconstruct the table: removes=$removes inserts=$inserts")
    assert(table === Set((1L, 5.0), (9L, 99.0)))
  }

  test("unsound shapes refuse loudly: DVs and untranslatable predicates") {
    import spark.implicits._
    val (cat, wh) = freshCat()
    val t = s"$wh/facts/t3"
    SnapshotStore.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), t)
    // untranslatable predicate → Spark's table-does-not-support refusal
    val e = intercept[Exception] {
      Seq((9L, "z")).toDF("id", "name").writeTo(s"$cat.facts.t3")
        .overwrite(length(col("name")) > lit(0))
    }
    assert(e.getMessage.toLowerCase.contains("overwrite"), e.getMessage)
    assert(spark.sql(s"SELECT count(*) FROM $cat.facts.t3").head().getLong(0) === 2L,
      "a refused overwrite must leave the table untouched")
  }
}
