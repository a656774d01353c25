package graft.sources

import graft.SparkSuite
import graft.store.SnapshotStore
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `ALTER TABLE ... ALTER COLUMN ... TYPE` widening via metadata-only
  * commits (byte/short → int, byte/short/int → bigint, float → double):
  * old files keep their narrow
  * physical type, new files carry the wide one, and every reader path
  * hands files the wide read schema (Spark's parquet readers upcast
  * INT32→long / FLOAT→double natively). The widen commit pins the
  * table's logical schema in the manifest because footer merge cannot
  * reconcile INT32 and INT64 generations. */
class WidenColumnSpec extends SparkSuite {

  import spark.implicits._

  private def catalog(root: String): String = {
    val cat = s"gwiden${math.abs(root.hashCode % 100000)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
    cat
  }

  test("widen int->bigint: both file generations read exactly on every path") {
    val root = Files.createTempDirectory("widen-wh").toString
    val t = s"$root/ns/m"
    SnapshotStore.commit(
      Seq((1, 10.5f, "a"), (2, 20.5f, "b"), (3, 30.5f, "c")).toDF("n", "x", "s"), t)
    val cat = catalog(root)
    spark.sql(s"ALTER TABLE $cat.ns.m ALTER COLUMN n TYPE BIGINT")

    val m1 = SnapshotStore.manifest(spark, t, 1L)
    assert(m1.op == "widen-column" && m1.widens == Seq(("n", "bigint")))
    assert(m1.schemaJson.nonEmpty, "the widen commit must pin the logical schema")
    // same FILES — a metadata-only commit
    assert(SnapshotStore.dataFiles(spark, m1).sorted ==
      SnapshotStore.dataFiles(spark, SnapshotStore.manifest(spark, t, 0L)).sorted)

    // a wide-generation append (logical schema now has n: bigint)
    spark.sql(s"INSERT INTO $cat.ns.m VALUES (CAST(4000000000 AS BIGINT), CAST(40.5 AS FLOAT), 'd')")

    // engine path
    val eng = SnapshotStore.read(spark, t)
    assert(eng.schema("n").dataType === LongType)
    assert(eng.orderBy("n").select("n").as[Long].collect().toSeq ===
      Seq(1L, 2L, 3L, 4000000000L))
    // DSv2 path: values, filters (stats pruning over narrow sidecar
    // entries must stay numeric-sound), aggregates across generations
    assert(spark.sql(s"SELECT CAST(sum(n) AS BIGINT) FROM $cat.ns.m").head().getLong(0) ===
      4000000006L)
    assert(spark.sql(s"SELECT s FROM $cat.ns.m WHERE n = 2").head().getString(0) === "b")
    assert(spark.sql(s"SELECT s FROM $cat.ns.m WHERE n = 4000000000").head().getString(0) === "d")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ns.m WHERE n > 2").head().getLong(0) === 2L)
  }

  test("widen float->double; row path (DV scan) upcasts narrow files") {
    val root = Files.createTempDirectory("widen-dv").toString
    val t = s"$root/ns/f"
    SnapshotStore.commit(
      Seq((1L, 1.25f), (2L, 2.25f), (3L, 3.25f)).toDF("id", "v"), t)
    val cat = catalog(root)
    spark.sql(s"ALTER TABLE $cat.ns.f ALTER COLUMN v TYPE DOUBLE")
    // DVs AFTER the widen: the anti-join read and the DSv2 DV scan
    // both serve the widened column from narrow files
    SnapshotStore.deleteCommit(spark, t, Seq("id"), col("id") === 2L)
    val eng = SnapshotStore.read(spark, t).orderBy("id")
    assert(eng.schema("v").dataType === DoubleType)
    assert(eng.select("v").as[Double].collect().toSeq === Seq(1.25d, 3.25d))
    val dsv2 = spark.sql(s"SELECT v FROM $cat.ns.f ORDER BY id")
    assert(dsv2.collect().map(_.getDouble(0)).toSeq === Seq(1.25d, 3.25d))
  }

  private def filesRead(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    val d = SnapshotScanProbe.scans(df).head.description
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(d).getOrElse(
      fail(s"no files= in scan description: $d"))
    (m.group(1).toInt, m.group(2).toInt)
  }

  test("bloom index on a widened column: dual-hash probes keep pruning, never false-negative") {
    val root = Files.createTempDirectory("widen-bloom").toString
    val t = s"$root/ns/b"
    // keys SHUFFLED across files so min/max stats provably can't prune
    SnapshotStore.commit(
      spark.range(0, 2000).select((col("id") * 997 % 2000).cast("int").alias("k"),
        col("id").alias("payload")).repartition(4), t)
    graft.ops.BloomIndex.bloomCommit(spark, t, Seq("k"))
    val cat = catalog(root)
    // pre-widen sanity: the index prunes
    assert(spark.sql(s"SELECT count(*) FROM $cat.ns.b WHERE k = 7").head().getLong(0) === 1L)
    spark.sql(s"ALTER TABLE $cat.ns.b ALTER COLUMN k TYPE BIGINT")
    // post-widen, PRE-rebuild: the narrow-hashed index still prunes —
    // the probe carries BOTH the int and the long hash, so whichever
    // the build used, present values survive and absent values prune
    assert(spark.sql(s"SELECT count(*) FROM $cat.ns.b WHERE k = 7").head().getLong(0) === 1L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ns.b WHERE k IN (3, 1999)")
      .head().getLong(0) === 2L)
    val absent = spark.table(s"$cat.ns.b").filter(col("k") === 999999999L)
    val (kept0, total0) = filesRead(absent)
    assert(total0 === 4 && kept0 === 0,
      s"narrow-era index must still prune an absent key post-widen, kept $kept0/$total0")
    // post-widen REBUILD (evolution-aware read hashes the WIDE values):
    // pruning and answers stay exact
    graft.ops.BloomIndex.bloomCommit(spark, t, Seq("k"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.ns.b WHERE k = 7").head().getLong(0) === 1L)
    val (kept1, total1) = filesRead(
      spark.table(s"$cat.ns.b").filter(col("k") === 999999999L))
    assert(total1 === 4 && kept1 === 0,
      s"wide-era rebuild must prune an absent key, kept $kept1/$total1")
  }

  test("widen byte->int and short->bigint: generations read exactly; byte->smallint refuses") {
    val root = Files.createTempDirectory("widen-bs").toString
    val t = s"$root/ns/bs"
    SnapshotStore.commit(
      Seq((1.toByte, 100.toShort, "a"), (2.toByte, 200.toShort, "b")).toDF("b", "s", "tag"), t)
    val cat = catalog(root)
    spark.sql(s"ALTER TABLE $cat.ns.bs ALTER COLUMN b TYPE INT")
    spark.sql(s"ALTER TABLE $cat.ns.bs ALTER COLUMN s TYPE BIGINT")
    // a wide-generation insert past both narrow ranges
    spark.sql(s"INSERT INTO $cat.ns.bs VALUES (300000, CAST(4000000000 AS BIGINT), 'c')")
    val eng = SnapshotStore.read(spark, t)
    assert(eng.schema("b").dataType === IntegerType)
    assert(eng.schema("s").dataType === LongType)
    assert(eng.orderBy("b").select("b").as[Int].collect().toSeq === Seq(1, 2, 300000))
    assert(spark.sql(s"SELECT CAST(sum(s) AS BIGINT) FROM $cat.ns.bs").head().getLong(0)
      === 4000000300L)
    assert(spark.sql(s"SELECT tag FROM $cat.ns.bs WHERE b = 2").head().getString(0) === "b")
    assert(spark.sql(s"SELECT tag FROM $cat.ns.bs WHERE s = 4000000000").head().getString(0)
      === "c")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ns.bs WHERE s > 150").head().getLong(0) === 2L)
    // SHORT target refuses — the connector row reader has no short decode
    val t2 = s"$root/ns/bs2"
    SnapshotStore.commit(Seq((1.toByte, "x")).toDF("b", "tag"), t2)
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ns.bs2 ALTER COLUMN b TYPE SMALLINT") }
    assert(e.getMessage.contains("full rewrite"), e.getMessage)
  }

  test("rename-after-widen keeps the widening; compaction materializes both away") {
    val root = Files.createTempDirectory("widen-rn").toString
    val t = s"$root/ns/r"
    SnapshotStore.commit(Seq((1, "a"), (2, "b")).toDF("n", "s"), t)
    val cat = catalog(root)
    spark.sql(s"ALTER TABLE $cat.ns.r ALTER COLUMN n TYPE BIGINT")
    spark.sql(s"ALTER TABLE $cat.ns.r RENAME COLUMN n TO num")
    val m = SnapshotStore.manifest(spark, t,
      SnapshotStore.currentVersion(spark, t).get)
    assert(m.widens == Seq(("num", "bigint")), "the widening follows the rename")
    val renamed = SnapshotStore.read(spark, t)
    assert(renamed.schema("num").dataType === LongType)
    assert(renamed.orderBy("num").select("num").as[Long].collect().toSeq === Seq(1L, 2L))
    assert(spark.sql(s"SELECT s FROM $cat.ns.r WHERE num = 2").head().getString(0) === "b")
    // full rewrite: wide physical types, empty mapping and widens
    graft.ops.Bucketing.compactCommit(spark, t, 256L << 20)
    val mc = SnapshotStore.manifest(spark, t,
      SnapshotStore.currentVersion(spark, t).get)
    assert(mc.widens.isEmpty && mc.renames.isEmpty,
      "compaction must materialize the widening and the mapping away")
    assert(DataType.fromJson(mc.schemaJson).asInstanceOf[StructType]("num").dataType
      === LongType, "the re-pinned schema carries the wide type under the new name")
    val phys = spark.read.parquet(SnapshotStore.dataFiles(spark, mc): _*)
    assert(phys.schema("num").dataType === LongType, "rewritten files carry the wide type")
    assert(spark.sql(s"SELECT CAST(sum(num) AS BIGINT) FROM $cat.ns.r").head().getLong(0) === 3L)
  }

  test("refusals: non-widening changes, layout columns; ADD COLUMNS after widen grows the pinned schema") {
    val root = Files.createTempDirectory("widen-ref").toString
    val t = s"$root/ns/g"
    SnapshotStore.partitionedCommit(
      Seq((1, java.time.LocalDateTime.of(2024, 1, 1, 0, 0), 1.0f))
        .toDF("n", "ts", "x"),
      t, Seq(graft.store.PartitionSpec.PartField("months", "ts")))
    val cat = catalog(root)
    // long -> int narrows; string is not numeric; both refuse
    val e1 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ns.g ALTER COLUMN n TYPE STRING") }
    assert(e1.getMessage.contains("full rewrite"), e1.getMessage)
    // a partition source column refuses (directory facts key by it)
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ns.g ALTER COLUMN ts TYPE STRING") }
    assert(e2.getMessage.contains("full rewrite") || e2.getMessage.contains("layout"),
      e2.getMessage)
    spark.sql(s"ALTER TABLE $cat.ns.g ALTER COLUMN n TYPE BIGINT")
    // schema evolution after the widen: the pinned schema grows
    spark.sql(s"ALTER TABLE $cat.ns.g ADD COLUMNS (note STRING)")
    val m = SnapshotStore.manifest(spark, t,
      SnapshotStore.currentVersion(spark, t).get)
    val pinned = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    assert(pinned.fieldNames.contains("note"), s"pinned schema must grow: $pinned")
    assert(pinned("n").dataType === LongType)
    val widened = spark.sql(s"SELECT n, note FROM $cat.ns.g ORDER BY n")
    assert(widened.schema("n").dataType === LongType)
    assert(widened.collect().map(r => (r.getLong(0), r.isNullAt(1))).toSeq === Seq((1L, true)))
  }
}
