package graft.sources

import graft.SparkSuite
import graft.ops.BloomIndex
import graft.store.SnapshotStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Manifest-level Bloom index ([[BloomIndex.bloomCommit]] +
  * `bloomfile=` marker line): point `=` / `IN` predicates on indexed
  * columns prune FILES at planning through the DSv2 connector — the
  * point-lookup complement of min/max stats, which cannot prune a
  * high-cardinality key the layout is not clustered by. */
class BloomManifestSpec extends SparkSuite {

  import spark.implicits._

  private def fresh(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def filesRead(df: DataFrame): (Int, Int) = {
    val d = SnapshotScanProbe.scans(df).head.description
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(d).getOrElse(
      fail(s"no files= in scan description: $d"))
    (m.group(1).toInt, m.group(2).toInt)
  }

  // keys are SHUFFLED across files so min/max envelopes span the whole
  // domain — stats skipping provably can't help, only the bloom can
  private def commitShuffled(t: String, n: Long, files: Int): Unit = {
    val df = spark.range(0, n)
      .select((col("id") * 2654435761L % n).as("k"),
        concat(lit("p"), (col("id") % 7).cast("string")).as("tag"))
    SnapshotStore.commit(df.repartition(files), t)
  }

  test("bloom-indexed point lookup prunes files; values exact; un-indexed keeps all") {
    val t = fresh("bloomman")
    commitShuffled(t, 40000L, 8)
    val v = BloomIndex.bloomCommit(spark, t, Seq("k"), expectedItems = 10000L)
    assert(v === 1L)
    assert(SnapshotStore.manifest(spark, t, 1).bloomFile.nonEmpty)

    def lookup(k: Long) = spark.read.format("graft-snapshot").option("path", t).load()
      .filter(col("k") === k)
    // the probe value exists in exactly one file; at ~2 bits/key the
    // filter still prunes most of the 8 files
    val (kept, total) = filesRead(lookup(12345L % 40000L))
    assert(total === 8)
    assert(kept < 8, s"bloom should prune at least one file, kept $kept/$total")
    assert(lookup(12345L).count() === 1L)
    // a value outside the domain: every filter excludes it
    val (kept0, _) = filesRead(lookup(99999999L))
    assert(kept0 === 0, s"absent key should prune every file, kept $kept0")
    assert(lookup(99999999L).count() === 0L)
    // predicate on an UN-indexed column: no bloom pruning (stats may
    // still apply, but tag spans every file so nothing prunes)
    val byTag = spark.read.format("graft-snapshot").option("path", t).load()
      .filter(col("tag") === "p3")
    assert(filesRead(byTag)._1 === 8)
    assert(byTag.count() === spark.range(0, 40000L).filter(col("id") % 7 === 3).count())
  }

  test("IN probes keep the union of candidate files; append degrades gracefully") {
    val t = fresh("bloomman2")
    commitShuffled(t, 20000L, 6)
    BloomIndex.bloomCommit(spark, t, Seq("k"), expectedItems = 8000L)
    // append rows WITHOUT bloom entries: the index carries forward but
    // must never prune the new file, even for values only it contains
    SnapshotStore.appendCommit(
      Seq((777777L, "new"), (888888L, "new")).toDF("k", "tag").coalesce(1), t)
    assert(SnapshotStore.manifest(spark, t, 2).bloomFile.nonEmpty,
      "append should carry the bloom index forward")
    val df = spark.read.format("graft-snapshot").option("path", t).load()
      .filter(col("k").isin(777777L, 3L))
    val (kept, total) = filesRead(df)
    assert(total === 7)
    assert(kept < 7, "old files not containing either value should prune")
    assert(df.select("k").as[Long].collect().toSet === Set(777777L, 3L))
  }

  test("CALL system.bloom_index publishes the index through SQL") {
    val wh = java.nio.file.Files.createTempDirectory("bloomwh").toString
    val cat = s"bloomcat${SnapshotProceduresSpec.nextId()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      commitShuffled(s"$wh/m/pts", 10000L, 4)
      val r = spark.sql(
        s"CALL $cat.system.bloom_index(table => 'm.pts', cols => 'k')").collect().head
      assert(r.getAs[Long]("version") === 1L)
      val df = spark.table(s"$cat.m.pts").filter(col("k") === 17L)
      assert(df.count() === 1L)
      assert(SnapshotStore.manifest(spark, s"$wh/m/pts", 1).bloomFile.nonEmpty)
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("vacuum collects an aged-out bloom index; a live one survives") {
    val t = fresh("bloomman3")
    commitShuffled(t, 5000L, 3)
    BloomIndex.bloomCommit(spark, t, Seq("k")) // v1 (bloom A)
    SnapshotStore.commit(SnapshotStore.read(spark, t), t) // v2: rewrite drops bloom
    BloomIndex.bloomCommit(spark, t, Seq("k")) // v3 (bloom B)
    SnapshotStore.commit(SnapshotStore.read(spark, t), t) // v4
    val bloomA = SnapshotStore.manifest(spark, t, 1).bloomFile
    val bloomB = SnapshotStore.manifest(spark, t, 3).bloomFile
    SnapshotStore.vacuum(spark, t, keep = 2) // keeps v3, v4
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(bloomA)),
      "aged-out bloom index should be collected")
    assert(fs.exists(new org.apache.hadoop.fs.Path(bloomB)),
      "live bloom index must survive")
    assert(spark.read.format("graft-snapshot").option("path", t)
      .option("version", "3").load().filter(col("k") === 11L).count() === 1L)
  }

  test("column-sharded index: planning deserializes O(probed columns), once (LRU-cached)") {
    val t = fresh("bloomshard")
    commitShuffled(t, 20000L, 8)
    BloomIndex.bloomCommit(spark, t, Seq("k", "tag"), expectedItems = 10000L)
    val bf = SnapshotStore.manifest(spark, t, 1).bloomFile
    val fs = new org.apache.hadoop.fs.Path(bf)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(bf)).exists(s0 =>
      s0.isDirectory && s0.getPath.getName.startsWith("col=")),
      "the index must shard by column on disk")

    def lookup(k: Long) = spark.read.format("graft-snapshot").option("path", t).load()
      .filter(col("k") === k).count()
    val d0 = SnapshotScanProbe.bloomEntriesDeserialized
    lookup(12345L)
    val afterK = SnapshotScanProbe.bloomEntriesDeserialized - d0
    assert(afterK === 8L,
      s"probing one column over 8 files must deserialize exactly 8 filters, got $afterK")
    lookup(54321L % 20000L) // same column again: cache hit, zero new parses
    assert(SnapshotScanProbe.bloomEntriesDeserialized - d0 === 8L,
      "a second probe of the same column must hit the LRU cache")
    // the OTHER column's shard was never read
    spark.read.format("graft-snapshot").option("path", t).load()
      .filter(col("tag") === "p3").count()
    assert(SnapshotScanProbe.bloomEntriesDeserialized - d0 === 16L,
      "probing the second column reads only its own shard")
  }

  test("bloom built AFTER a rename hashes LOGICAL values; old-generation files never wrongly pruned") {
    val t = fresh("bloomren")
    // gen A: the key column's physical spelling is k0
    SnapshotStore.commit(
      spark.range(0, 4000).select(col("id").as("k0"),
        concat(lit("p"), (col("id") % 7).cast("string")).as("tag")).repartition(4), t)
    SnapshotStore.renameColumnCommit(spark, t, "k0", "k")
    // gen B: appended under the new spelling
    SnapshotStore.appendCommit(
      spark.range(900000L, 900100L).select(col("id").as("k"), lit("new").as("tag")).coalesce(1), t)
    // the rebuild must bind each generation's PHYSICAL spelling — a
    // footer-bound read nulls gen A's values and builds filters that
    // wrongly exclude its files from lookups they should answer
    BloomIndex.bloomCommit(spark, t, Seq("k"))
    def lookup(k: Long) = spark.read.format("graft-snapshot").option("path", t).load()
      .filter(col("k") === k)
    // values living ONLY in old-generation files must survive the index
    assert(lookup(123L).count() === 1L)
    assert(lookup(3999L).count() === 1L)
    // new-generation value: exact too
    assert(lookup(900050L).count() === 1L)
    // absent key still prunes every file — the index is live, not disabled
    val (kept0, total0) = filesRead(lookup(77777777L))
    assert(total0 === 5 && kept0 === 0,
      s"absent key should prune every file, kept $kept0/$total0")
  }

  test("a column shard above the driver byte budget probes DISTRIBUTED, same pruning") {
    val t = fresh("bloomdist")
    commitShuffled(t, 20000L, 8)
    BloomIndex.bloomCommit(spark, t, Seq("k"), expectedItems = 10000L)
    spark.conf.set("spark.graft.bloom.driverBytesMax", "1") // force the distributed path
    try {
      val d0 = SnapshotScanProbe.bloomEntriesDeserialized
      val p0 = SnapshotScanProbe.bloomDistributedProbes
      def lookup(k: Long) = spark.read.format("graft-snapshot").option("path", t).load()
        .filter(col("k") === k)
      // absent key: every file's filter excludes it — full prune, computed
      // in executors
      val (kept0, total0) = filesRead(lookup(99999999L))
      assert(total0 === 8 && kept0 === 0,
        s"distributed probe must prune every file for an absent key, kept $kept0/$total0")
      // present key: exact answer survives
      assert(lookup(12346L % 20000L).count() === 1L)
      assert(SnapshotScanProbe.bloomEntriesDeserialized === d0,
        "the distributed path must not deserialize filters on the driver")
      assert(SnapshotScanProbe.bloomDistributedProbes > p0,
        "the distributed probe counter must move")
    } finally spark.conf.unset("spark.graft.bloom.driverBytesMax")
  }
}
