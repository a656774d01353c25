package graft.sources

import graft.SparkSuite
import graft.store.SnapshotStore
import org.apache.spark.sql.functions._

/** Merge-on-read row-level commands (`SupportsDelta` / `WriteDelta`,
  * `spark.graft.rowlevel.mode=merge-on-read`): one O(delta) commit of
  * a scoped deletion vector (deleted/updated keys) plus fresh appended
  * files (inserted/updated rows) — no touched-file rewrite, and the
  * change feed carries the delta, not an image. */
class SnapshotRowLevelDeltaSpec extends SparkSuite {

  private def withMor(keys: String)(test: (String, String) => Unit): Unit = {
    val wh = java.nio.file.Files.createTempDirectory("mor-wh").toString
    val cat = "gmor_" + java.util.UUID.randomUUID.toString.take(8).replace("-", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.conf.set("spark.graft.rowlevel.mode", "merge-on-read")
    spark.conf.set("spark.graft.rowlevel.keys", keys)
    try test(cat, wh)
    finally {
      spark.conf.unset("spark.graft.rowlevel.mode")
      spark.conf.unset("spark.graft.rowlevel.keys")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  private def fileOf(p: String) = new org.apache.hadoop.fs.Path(p)
  private def fsys = new org.apache.hadoop.fs.Path("/")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("MoR MERGE: one DV + fresh files; no base file moves; answers match copy-on-write") {
    val customer = graft.sources.Tables.customer(spark, sf())
    // the same three-clause merge, run both ways on identical tables
    def mergeSql(cat: String) =
      s"""MERGE INTO $cat.facts.customer t USING mor_src src
          ON t.c_custkey = src.c_custkey
          WHEN MATCHED AND src.delta > 500 THEN DELETE
          WHEN MATCHED THEN UPDATE SET c_acctbal = t.c_acctbal + src.delta
          WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
            VALUES (src.c_custkey, 'new', -1, src.delta, 'NEW')"""
    customer.select(col("c_custkey"), (col("c_custkey") % 1000).cast("double").alias("delta"))
      .filter(col("c_custkey") % 7 === 0)
      .union(spark.range(1, 4).select((col("id") + 9000000L).alias("c_custkey"),
        lit(42.0).alias("delta")))
      .createOrReplaceTempView("mor_src")

    // copy-on-write reference
    val refWh = java.nio.file.Files.createTempDirectory("mor-ref").toString
    val refCat = "gref_" + java.util.UUID.randomUUID.toString.take(8).replace("-", "")
    spark.conf.set(s"spark.sql.catalog.$refCat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$refCat.warehouse", refWh)
    try {
      SnapshotStore.commit(customer.repartition(4), s"$refWh/facts/customer")
      spark.sql(mergeSql(refCat))
      val expected = spark.sql(
        s"SELECT * FROM $refCat.facts.customer ORDER BY c_custkey").collect()

      withMor("c_custkey") { (cat, wh) =>
        val table = s"$wh/facts/customer"
        SnapshotStore.commit(customer.repartition(4), table)
        val baseFiles = SnapshotStore.dataFiles(spark, SnapshotStore.manifest(spark, table, 0L))
        val mtime0 = baseFiles.map(f =>
          f -> fsys.getFileStatus(fileOf(f)).getModificationTime).toMap

        spark.sql(mergeSql(cat))

        val m = SnapshotStore.manifest(spark, table,
          SnapshotStore.currentVersion(spark, table).get)
        assert(m.op === "merge-mor")
        assert(baseFiles.forall(m.files.contains),
          "merge-on-read must keep every base file in the manifest")
        assert(m.files.size > baseFiles.size, "inserted/updated rows need fresh files")
        assert(m.deletes.size === 1, "deleted/updated keys land in ONE new scoped DV")
        baseFiles.foreach(f => assert(
          fsys.getFileStatus(fileOf(f)).getModificationTime === mtime0(f),
          s"base file rewritten by a merge-on-read commit: $f"))
        // the new DV's scope covers exactly the base files
        assert(SnapshotStore.dvScope(spark, m.deletes.head)
          === Some(baseFiles.map(SnapshotStore.relFileKey).toSet))

        val got = spark.sql(s"SELECT * FROM $cat.facts.customer ORDER BY c_custkey").collect()
        assert(got.length === expected.length)
        assert(got.toSeq === expected.toSeq,
          "merge-on-read and copy-on-write must produce identical tables")
      }
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$refCat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$refCat")
    }
  }

  test("MoR DELETE is a pure key-delta commit; UPDATE re-inserts surviving rows") {
    withMor("n_nationkey") { (cat, wh) =>
      val table = s"$wh/dims/nation"
      val nation = graft.sources.Tables.nation(spark, sf())
      SnapshotStore.commit(nation.repartition(2), table)
      val files0 = SnapshotStore.dataFiles(spark, SnapshotStore.manifest(spark, table, 0L))

      spark.sql(s"DELETE FROM $cat.dims.nation WHERE n_nationkey % 5 = 0")
      val m1 = SnapshotStore.manifest(spark, table, 1L)
      assert(m1.op === "delete-mor")
      assert(m1.files.toSet === files0.toSet, "a MoR delete adds NO data files")
      assert(m1.deletes.size === 1)
      assert(spark.sql(s"SELECT count(*) FROM $cat.dims.nation").head().getLong(0)
        === nation.filter(col("n_nationkey") % 5 =!= 0).count())

      spark.sql(s"UPDATE $cat.dims.nation SET n_regionkey = 99 WHERE n_nationkey = 7")
      val m2 = SnapshotStore.manifest(spark, table, 2L)
      assert(m2.op === "update-mor")
      assert(m2.deletes.size === 2, "the update's old row needs a second scoped DV")
      val r = spark.sql(
        s"SELECT n_regionkey FROM $cat.dims.nation WHERE n_nationkey = 7").collect()
      assert(r.length === 1 && r.head.getInt(0) === 99,
        "the updated row must come back exactly once, from the fresh file")
    }
  }

  test("change feed streams a MoR merge as delete keys + insert rows, never an image") {
    withMor("n_nationkey") { (cat, wh) =>
      val table = s"$wh/dims/nation"
      val nation = graft.sources.Tables.nation(spark, sf())
      SnapshotStore.commit(nation, table) // v0
      nation.filter(col("n_nationkey") < 3)
        .select(col("n_nationkey"), lit(77).alias("nr")).createOrReplaceTempView("mor_cdf_src")
      spark.sql(
        s"""MERGE INTO $cat.dims.nation t USING mor_cdf_src s ON t.n_nationkey = s.n_nationkey
            WHEN MATCHED THEN UPDATE SET n_regionkey = s.nr""")

      val delta = spark.read.format("graft-snapshot")
        .option("path", table).option("changeFeed", "true")
        .option("startingVersion", "1").load().collect()
      def ct(r: org.apache.spark.sql.Row) = r.getString(r.fieldIndex("_change_type"))
      assert(delta.count(ct(_) == "delete") === 3, "updated keys stream as deletes")
      assert(delta.count(ct(_) == "insert") === 3, "updated rows stream as inserts")
      assert(delta.length === 6, s"never an image: ${delta.length} rows")
      assert(delta.filter(ct(_) == "insert")
        .forall(r => r.getInt(r.fieldIndex("n_regionkey")) == 77))
    }
  }

  test("a concurrent DV commit fails the row-level head pin (both modes), never resurrects") {
    val table = java.nio.file.Files.createTempDirectory("mor-race").toString + "/t"
    val nation = graft.sources.Tables.nation(spark, sf())
    SnapshotStore.commit(nation, table)
    val stale = SnapshotStore.manifest(spark, table, 0L)
    SnapshotStore.deleteCommit(spark, table, Seq("n_nationkey"),
      col("n_nationkey") === 3L) // concurrent DV: data/files unchanged
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    val schema = SnapshotStore.read(spark, table).schema
    val cow = intercept[IllegalStateException] {
      new SnapshotRowLevelOperation(table, stale, schema, Command.DELETE)
    }
    assert(cow.getMessage.contains("must target the table head"))
    spark.conf.set("spark.graft.rowlevel.mode", "merge-on-read")
    spark.conf.set("spark.graft.rowlevel.keys", "n_nationkey")
    try {
      val mor = intercept[IllegalStateException] {
        new SnapshotDeltaOperation(table, stale, schema, Command.DELETE, Seq("n_nationkey"))
      }
      assert(mor.getMessage.contains("must target the table head"))
    } finally {
      spark.conf.unset("spark.graft.rowlevel.mode")
      spark.conf.unset("spark.graft.rowlevel.keys")
    }
  }

  test("spark.graft.rowlevel.table scopes the non-null key override to the named table") {
    withMor("n_nationkey") { (_, wh) =>
      val target = s"$wh/dims/target"
      val other = s"$wh/dims/other"
      val nation = graft.sources.Tables.nation(spark, sf())
      SnapshotStore.commit(nation, target)
      SnapshotStore.commit(nation, other)
      spark.conf.set("spark.graft.rowlevel.table", "dims/target")
      try {
        def keyNullable(t: String): Boolean = spark.read.format("graft-snapshot")
          .option("path", t).load().schema("n_nationkey").nullable
        assert(!keyNullable(target), "the scoped table's key surfaces non-nullable")
        assert(keyNullable(other),
          "an unrelated table sharing the key column name must keep its nullability")
      } finally spark.conf.unset("spark.graft.rowlevel.table")
    }
  }

  test("unscoped MoR keys never flip nullability on a bystander table holding null keys") {
    withMor("k") { (cat, wh) =>
      import spark.implicits._
      // a table whose declared key column actually holds nulls: the
      // unscoped session conf must NOT rewrite it to nullable=false
      // (the optimizer would fold IS NULL to empty), and a MoR write
      // must refuse with the scoping remedy, not a generic error
      val nully = Seq((Option(1L), "a"), (Option.empty[Long], "b"), (Option(3L), "c"))
        .toDF("k", "v")
      SnapshotStore.commit(nully, s"$wh/dims/nully")
      val read = spark.read.format("graft-snapshot").option("path", s"$wh/dims/nully").load()
      assert(read.schema("k").nullable,
        "a null-holding key column must keep nullable=true under unscoped MoR confs")
      assert(read.filter(col("k").isNull).count() === 1L,
        "IS NULL must still find the null row")

      // provably null-free keys (sidecar n= proof) still get the
      // override without explicit scoping — the dt_merge_mor shape
      SnapshotStore.commit(graft.sources.Tables.nation(spark, sf())
        .select(col("n_nationkey").alias("k"), col("n_name").alias("v")), s"$wh/dims/clean")
      assert(!spark.read.format("graft-snapshot").option("path", s"$wh/dims/clean")
        .load().schema("k").nullable,
        "a sidecar-proven null-free key surfaces non-nullable")

      val err = intercept[Exception] {
        spark.sql(s"DELETE FROM $cat.dims.nully WHERE v = 'a'")
      }
      def chain(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => e.getMessage +: chain(e.getCause))
      assert(chain(err).exists(m => m != null && m.contains("not provably null-free")),
        s"want the scoping remedy, got: ${chain(err).mkString(" | ")}")
    }
  }

  test("MoR refuses a row identity that maps two matched rows to one key") {
    withMor("n_regionkey") { (cat, wh) =>
      val table = s"$wh/dims/nation"
      val nation = graft.sources.Tables.nation(spark, sf())
      SnapshotStore.commit(nation, table)
      val before = spark.sql(s"SELECT count(*) FROM $cat.dims.nation").head().getLong(0)
      val err = intercept[Exception] {
        spark.sql(s"DELETE FROM $cat.dims.nation WHERE n_regionkey = 1")
      }
      def chain(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => e.getMessage +: chain(e.getCause))
      assert(chain(err).exists(m => m != null && m.contains("do not uniquely identify rows")),
        s"want the uniqueness refusal, got: ${chain(err).mkString(" | ")}")
      assert(SnapshotStore.currentVersion(spark, table) === Some(0L),
        "a refused delta must not publish a version")
      assert(spark.sql(s"SELECT count(*) FROM $cat.dims.nation").head().getLong(0) === before)
    }
  }

  test("verifyUnique catches an unmatched sibling sharing a deleted key") {
    withMor("n_regionkey") { (cat, wh) =>
      val table = s"$wh/dims/nation"
      val nation = graft.sources.Tables.nation(spark, sf())
      SnapshotStore.commit(nation, table)
      // one matched row (unique among MATCHED keys — the cheap check
      // passes) whose key is shared by unmatched siblings the DV would
      // silently remove; the opt-in base probe refuses the commit
      spark.conf.set("spark.graft.rowlevel.verifyUnique", "true")
      try {
        val err = intercept[Exception] {
          spark.sql(s"DELETE FROM $cat.dims.nation WHERE n_name = 'NATION_7'")
        }
        def chain(t: Throwable): Seq[String] =
          Option(t).toSeq.flatMap(e => e.getMessage +: chain(e.getCause))
        assert(chain(err).exists(m => m != null && m.contains("do not uniquely identify rows")),
          s"want the uniqueness refusal, got: ${chain(err).mkString(" | ")}")
        assert(SnapshotStore.currentVersion(spark, table) === Some(0L))
      } finally spark.conf.unset("spark.graft.rowlevel.verifyUnique")
    }
  }
}
