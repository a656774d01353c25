package graft.sources

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Column DEFAULT values at CREATE TABLE (the
  * SUPPORT_COLUMN_DEFAULT_VALUE catalog capability): Spark encodes the
  * default in the schema's field metadata, the pinned `schemajson=`
  * persists it across sessions, and Spark's own analyzer fills omitted
  * columns and explicit DEFAULT keywords on INSERT — rows land
  * physically complete, so reads need no default logic at all.
  * `ALTER TABLE ... ADD COLUMN ... DEFAULT` stays refused: old files
  * would need exists-default fill on read, which this store does not
  * promise. */
class ColumnDefaultsSpec extends SparkSuite {

  private def freshCat(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("defwh").toString
    val cat = "gdef_" + java.util.UUID.randomUUID.toString.take(8).replace("-", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  test("CREATE TABLE with DEFAULTs: INSERT fills omitted columns and DEFAULT keywords") {
    val (cat, _) = freshCat()
    spark.sql(
      s"""CREATE TABLE $cat.facts.t (
            id BIGINT,
            status STRING DEFAULT 'new',
            score DOUBLE DEFAULT 1.5)""")
    spark.sql(s"INSERT INTO $cat.facts.t (id) VALUES (1)")
    spark.sql(s"INSERT INTO $cat.facts.t VALUES (2, DEFAULT, DEFAULT)")
    spark.sql(s"INSERT INTO $cat.facts.t VALUES (3, 'done', 9.9)")
    val got = spark.sql(s"SELECT * FROM $cat.facts.t ORDER BY id").collect()
    assert(got.map(_.getString(1)).toSeq === Seq("new", "new", "done"))
    assert(got.map(_.getDouble(2)).toSeq === Seq(1.5, 1.5, 9.9))
  }

  test("defaults persist across catalog instances (pinned schema metadata)") {
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.facts.t2 (id BIGINT, tag STRING DEFAULT 'x')")
    spark.sql(s"INSERT INTO $cat.facts.t2 (id) VALUES (1)")

    val cat2 = "gdef2_" + java.util.UUID.randomUUID.toString.take(8).replace("-", "")
    spark.conf.set(s"spark.sql.catalog.$cat2", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat2.warehouse", wh)
    spark.sql(s"INSERT INTO $cat2.facts.t2 (id) VALUES (2)")
    val got = spark.sql(s"SELECT * FROM $cat2.facts.t2 ORDER BY id").collect()
    assert(got.map(_.getString(1)).toSeq === Seq("x", "x"),
      "the default must survive a fresh catalog instance via the pinned schema")
  }

  test("ALTER TABLE ADD COLUMN ... DEFAULT: old files read the exists-default, new inserts are physical") {
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.facts.t3 (id BIGINT)")
    spark.sql(s"INSERT INTO $cat.facts.t3 VALUES (1), (2)")
    spark.sql(s"ALTER TABLE $cat.facts.t3 ADD COLUMNS (c INT DEFAULT 7, tag STRING DEFAULT 'z')")
    // omitted on INSERT → CURRENT_DEFAULT fills, lands physically
    spark.sql(s"INSERT INTO $cat.facts.t3 (id) VALUES (3)")
    // explicit NULL after the ALTER must STAY null (a coalesce-style
    // fill would wrongly resurrect the default here)
    spark.sql(s"INSERT INTO $cat.facts.t3 VALUES (4, NULL, NULL)")
    val q = spark.sql(s"SELECT id, c, tag FROM $cat.facts.t3 ORDER BY id")
    val desc = SnapshotScanProbe.scans(q).head.description
    assert(desc.contains("vectorized"), s"the decoder fills exists-defaults in batches: $desc")
    val got = q.collect()
    assert(got.map(r => if (r.isNullAt(1)) null else r.getInt(1)).toSeq === Seq(7, 7, 7, null),
      s"pre-ALTER rows report the exists-default; explicit NULL stays null: ${got.toSeq}")
    assert(got.map(_.getString(2)).toSeq === Seq("z", "z", "z", null))

    // filters against the default hit the old rows (reader fill, then
    // Spark's residual filter — the scan keeps files conservatively)
    assert(spark.sql(s"SELECT count(*) FROM $cat.facts.t3 WHERE c = 7").head().getLong(0) === 3L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.facts.t3 WHERE c IS NULL").head().getLong(0) === 1L)

    // the ENGINE read path agrees with the DSv2 scan
    val eng = graft.store.SnapshotStore.read(spark, s"$wh/facts/t3")
      .orderBy("id").collect()
    assert(eng.map(r => if (r.isNullAt(1)) null else r.getInt(1)).toSeq === Seq(7, 7, 7, null))

    // aggregates over the defaulted column are exact (no stale footer
    // pushdown: old files carry no physical 'c')
    assert(spark.sql(s"SELECT count(c) FROM $cat.facts.t3").head().getLong(0) === 3L)
    assert(spark.sql(s"SELECT min(c), max(c) FROM $cat.facts.t3").head().toSeq === Seq(7, 7))

    // defaults survive a fresh catalog over the same warehouse
    val cat2 = "gdef3_" + java.util.UUID.randomUUID.toString.take(8).replace("-", "")
    spark.conf.set(s"spark.sql.catalog.$cat2", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat2.warehouse", wh)
    assert(spark.sql(s"SELECT sum(c) FROM $cat2.facts.t3").head().getLong(0) === 21L)

    // Spark folds even now() to a constant at ALTER time (standard
    // exists-default semantics: the value freezes at the DDL) — every
    // pre-ALTER row reads the SAME frozen instant
    spark.sql(s"ALTER TABLE $cat.facts.t3 ADD COLUMNS (ts TIMESTAMP DEFAULT now())")
    val frozen = spark.sql(s"SELECT ts FROM $cat.facts.t3").collect()
    assert(frozen.forall(!_.isNullAt(0)) && frozen.map(_.getTimestamp(0)).distinct.length === 1,
      "the exists-default must be one frozen constant for all pre-ALTER rows")

    // plain nullable add still works and still reads null
    spark.sql(s"ALTER TABLE $cat.facts.t3 ADD COLUMNS (d INT)")
    assert(spark.sql(s"SELECT d FROM $cat.facts.t3").collect().forall(_.isNullAt(0)))
  }

  test("ALTER COLUMN SET/DROP DEFAULT changes future INSERT fills only") {
    val (cat, _) = freshCat()
    spark.sql(s"CREATE TABLE $cat.facts.t5 (id BIGINT, tag STRING DEFAULT 'x')")
    spark.sql(s"INSERT INTO $cat.facts.t5 (id) VALUES (1)")
    spark.sql(s"ALTER TABLE $cat.facts.t5 ALTER COLUMN tag SET DEFAULT 'y'")
    spark.sql(s"INSERT INTO $cat.facts.t5 (id) VALUES (2)")
    spark.sql(s"ALTER TABLE $cat.facts.t5 ALTER COLUMN tag DROP DEFAULT")
    spark.sql(s"INSERT INTO $cat.facts.t5 (id) VALUES (3)")
    val got = spark.sql(s"SELECT tag FROM $cat.facts.t5 ORDER BY id").collect()
    assert(got.map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq ===
      Seq("x", "y", null),
      "each INSERT fills the default current AT ITS TIME; rows already written never change")

    // SET DEFAULT after ADD COLUMN ... DEFAULT: the frozen
    // exists-default keeps governing pre-ADD files, only future
    // omitted-column INSERTs see the new value
    spark.sql(s"ALTER TABLE $cat.facts.t5 ADD COLUMNS (score INT DEFAULT 5)")
    spark.sql(s"ALTER TABLE $cat.facts.t5 ALTER COLUMN score SET DEFAULT 9")
    spark.sql(s"INSERT INTO $cat.facts.t5 (id) VALUES (4)")
    val scores = spark.sql(s"SELECT score FROM $cat.facts.t5 ORDER BY id").collect()
    assert(scores.map(_.getInt(0)).toSeq === Seq(5, 5, 5, 9),
      "exists-default (5) governs pre-ADD files; current-default (9) governs new INSERTs")
  }

  test("DELETE over an exists-default column never takes the missing-column=null shortcut") {
    import spark.implicits._
    val (cat, wh) = freshCat()
    val t = s"$wh/facts/t6"
    graft.store.SnapshotStore.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), t)
    spark.sql(s"ALTER TABLE $cat.facts.t6 ADD COLUMNS (c INT DEFAULT 7)")
    spark.sql(s"INSERT INTO $cat.facts.t6 VALUES (3, 'c', NULL), (4, 'd', 9)")
    // pre-ALTER rows report 7, NOT null: the metadata classifier's
    // "file missing the column = all null" rule must decline here,
    // and the row-level plan reads through the fill
    spark.sql(s"DELETE FROM $cat.facts.t6 WHERE c IS NULL")
    assert(spark.sql(s"SELECT id FROM $cat.facts.t6 ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L, 4L),
      "only the explicit-NULL row deletes; pre-ALTER rows report the default")
    spark.sql(s"DELETE FROM $cat.facts.t6 WHERE c = 7")
    assert(spark.sql(s"SELECT id FROM $cat.facts.t6 ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(4L),
      "the default-valued pre-ALTER rows DO match c = 7")
  }

  test("the change feed fills exists-defaults so replay reconstructs table reads") {
    import spark.implicits._
    val (cat, wh) = freshCat()
    val t = s"$wh/facts/t7"
    graft.store.SnapshotStore.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), t)
    spark.sql(s"ALTER TABLE $cat.facts.t7 ADD COLUMNS (c INT DEFAULT 7)")
    spark.sql(s"INSERT INTO $cat.facts.t7 VALUES (3, 'x', 9)")
    val feed = spark.read.format("graft-snapshot").option("path", t)
      .option("changeFeed", "true").option("startingVersion", 0).load()
      .filter(col("_change_type") === "insert" || col("_change_type") === "snapshot")
      .select("id", "c").orderBy("id").collect()
    assert(feed.map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getInt(1))).toSeq ===
      Seq((1L, 7), (2L, 7), (3L, 9)),
      "feed rows must report exactly what a table read reports — defaults included")

    // a merge-on-read delete (a deletion vector) streams its keys as
    // 'delete' rows: the key file holds no 'c', and a key row must not
    // report the default
    graft.store.SnapshotStore.deleteCommit(spark, t, Seq("id"), col("id") === 1L)
    val deletes = spark.read.format("graft-snapshot").option("path", t)
      .option("changeFeed", "true").option("startingVersion", 0).load()
      .filter(col("_change_type") === "delete").select("id", "c").collect()
    assert(deletes.map(r => (r.getLong(0), r.isNullAt(1))).toSeq === Seq((1L, true)),
      s"a delete row carries its key and null elsewhere: ${deletes.toSeq}")
  }

  test("a full INSERT OVERWRITE keeps the column defaults working") {
    val (cat, _) = freshCat()
    spark.sql(s"CREATE TABLE $cat.facts.t8 (id BIGINT, tag STRING DEFAULT 'x')")
    spark.sql(s"INSERT INTO $cat.facts.t8 (id) VALUES (1)")
    spark.sql(s"INSERT OVERWRITE $cat.facts.t8 VALUES (2, 'y')")
    spark.sql(s"INSERT INTO $cat.facts.t8 (id) VALUES (3)")
    val got = spark.sql(s"SELECT id, tag FROM $cat.facts.t8 ORDER BY id").collect()
    assert(got.map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSeq ===
      Seq((2L, "y"), (3L, "x")),
      "the default must survive the overwrite's schema re-pin")
  }

  test("RENAME of an exists-default column keeps stored values (engine + scan + rewrite paths)") {
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.facts.t9 (id BIGINT)")
    spark.sql(s"INSERT INTO $cat.facts.t9 VALUES (1)")
    spark.sql(s"ALTER TABLE $cat.facts.t9 ADD COLUMNS (c INT DEFAULT 7)")
    // files carrying REAL values under the pre-rename physical name 'c'
    spark.sql(s"INSERT INTO $cat.facts.t9 VALUES (2, 99), (3, NULL)")
    spark.sql(s"ALTER TABLE $cat.facts.t9 RENAME COLUMN c TO c2")
    spark.sql(s"INSERT INTO $cat.facts.t9 VALUES (4, 11)")
    def vals(rows: Array[org.apache.spark.sql.Row], idCol: Int = 0, cCol: Int = 1) =
      rows.sortBy(_.getLong(idCol)).map(r => if (r.isNullAt(cCol)) null else r.getInt(cCol)).toSeq
    val expected = Seq[Any](7, 99, null, 11)
    // DSv2 scan path
    assert(vals(spark.sql(s"SELECT id, c2 FROM $cat.facts.t9").collect()) === expected,
      "scan: pre-rename files must bind c2 to the stored physical 'c', not the default")
    // ENGINE read path (boundParquet classification — the regression
    // site: classifying by the logical name alone filled the frozen
    // default over the real 99/NULL values)
    val eng = graft.store.SnapshotStore.read(spark, s"$wh/facts/t9")
      .select("id", "c2").collect()
    assert(vals(eng) === expected,
      "engine read: rename aliases count as column-present for the exists-default fill")
    // REWRITE path (row-level DELETE reads through readVersion and
    // materializes what it read — corruption here would be permanent)
    spark.sql(s"DELETE FROM $cat.facts.t9 WHERE id = 1")
    assert(vals(spark.sql(s"SELECT id, c2 FROM $cat.facts.t9").collect()) ===
      Seq[Any](99, null, 11),
      "a CoW rewrite must not materialize the default over stored values")
  }

  test("exists-default composes with DVs and time travel") {
    import spark.implicits._
    val (cat, wh) = freshCat()
    val t = s"$wh/facts/t4"
    graft.store.SnapshotStore.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"), t)
    spark.sql(s"ALTER TABLE $cat.facts.t4 ADD COLUMNS (score INT DEFAULT 5)")
    spark.sql(s"INSERT INTO $cat.facts.t4 VALUES (4, 'd', 9)")
    // row-level DELETE (copy-on-write or DV, whatever the session is
    // configured for) — surviving old rows still report the default
    spark.sql(s"DELETE FROM $cat.facts.t4 WHERE id = 2")
    val got = spark.sql(s"SELECT id, score FROM $cat.facts.t4 ORDER BY id").collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L, 3L, 4L))
    assert(got.map(_.getInt(1)).toSeq === Seq(5, 5, 9))
    // v0 predates the column entirely: time travel reads the old shape
    assert(spark.sql(s"SELECT * FROM $cat.facts.t4 VERSION AS OF 0").columns.toSeq ===
      Seq("id", "name"))
  }
}
