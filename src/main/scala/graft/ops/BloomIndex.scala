package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XxHash64
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** File-level Bloom skipping index — the POINT-lookup complement of
  * [[Zorder]]'s min/max envelope index.
  *
  * Min/max file stats prune RANGE predicates, but an equality probe on
  * a high-cardinality key that the layout is NOT clustered by gets no
  * help from envelopes: every file's [min,max] spans the whole key
  * space, so a needle lookup still opens every file. A per-file Bloom
  * filter answers "might this file contain key k?" in a few hundred KB
  * per file regardless of cardinality — the same trick as Parquet's
  * own optional bloom pages and Delta's bloom index, built here on the
  * `_zindex` pattern (one metadata row per file, underscore-hidden from
  * data scans).
  *
  * Scale shape (100 TB): the index is one (file, bloom) row per data
  * file; at 8 bits/key a 10⁸-row file costs ~100 MB... so don't — size
  * `expectedItems`/`numBits` to the keys-per-file of a healthy layout
  * (10⁶–10⁷ rows/file ⇒ 1–10 MB/file). Probing is metadata-only: the
  * index rows are collected (bounded: files, not rows) and tested on
  * the driver; only surviving files are opened, and Parquet row-group
  * pushdown still applies inside them. False positives cost an extra
  * file open, never a wrong row — the exact predicate re-applies.
  *
  * Hashing matches [[RuntimeFilter]]: values go in as `xxhash64(key,
  * seed=42)`, probes hash the literal the same way, so the index file
  * is interoperable with the scan-side probes there.
  */
object BloomIndex {

  private val Seed = 42L

  /** The hash a scan-side probe must feed `mightContainLong` — one home
    * shared with the build side so the two can never disagree. Value
    * types must match the column's (Catalyst's filter pushdown
    * guarantees it for the DSv2 path). */
  def probeHash(v: Any): Long =
    XxHash64(Seq(Literal(v)), Seed).eval(InternalRow.empty).asInstanceOf[Long]

  /** Build the per-file Bloom index for `keyCol` over the table at
    * `path`, persisted under `<path>/_bindex`. One scan, one partial+
    * final aggregate keyed by file name; each group's filter is sized
    * by `expectedItems`/`numBits` (bits cap the memory per file). */
  def writeFileBloomIndex(
      spark: SparkSession,
      path: String,
      keyCol: String,
      expectedItems: Long = 1L << 20,
      numBits: Long = 1L << 23): Unit = {
    val df = spark.read.parquet(path)
    val hashed = XxHash64(Seq(Bridge.expression(df(keyCol))), Seed)
    val agg = Bridge.column(
      new BloomFilterAggregate(hashed, Literal(expectedItems), Literal(numBits))
        .toAggregateExpression())
    df.select(input_file_name().alias("file"), df(keyCol))
      .groupBy(col("file"))
      .agg(agg.alias("bloom"))
      // NO coalesce(1): at 100k files × 1-10 MB blooms a single-task
      // funnel writes ~100s of GB through one executor thread — let
      // the aggregate's own partitioning write in parallel (one row
      // per file; readers take the file list, not one file)
      .write.mode("overwrite").parquet(s"$path/_bindex")
  }

  /** Distributed-probe counter (test observability — the spec forces a
    * tiny driver cap and proves the executor path ran, mirroring the
    * NDV counter-proof pattern). */
  val distributedProbes = new java.util.concurrent.atomic.AtomicLong(0)

  /** Files that MIGHT contain `key` (no false negatives). Index bytes
    * under `spark.graft.bloom.driverBytesMax` (default 32 MB) collect
    * and probe on the driver — the same metadata-only pattern as
    * [[Zorder.selectFiles]]. A bigger index probes IN EXECUTORS and
    * ships back only surviving file NAMES: at 100k files × 1 MB
    * filters the driver alternative is ~100 GB of heap, the exact
    * anti-pattern the connector path already avoids
    * ([[graft.sources.SnapshotDataSource]]'s capped probe — this is
    * that design, ported). */
  def selectFiles(spark: SparkSession, path: String, key: Long): Seq[String] = {
    val hashed = XxHash64(Seq(Literal(key)), Seed).eval(InternalRow.empty).asInstanceOf[Long]
    val driverBytesMax =
      spark.conf.get("spark.graft.bloom.driverBytesMax", (32L << 20).toString).toLong
    val idxDir = new Path(s"$path/_bindex")
    val fsys = idxDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // ONE listStatus supplies both the explicit file list (not the
    // underscore dir root — see Zorder.fileStats) and the byte sizes
    // the driver-cap decision needs: per-file getFileStatus would cost
    // O(index parts) namenode/S3 round-trips on every point lookup
    val idxStatus =
      if (!fsys.exists(idxDir)) Seq.empty
      else fsys.listStatus(idxDir).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val idxFiles = idxStatus.map(_.getPath.toString)
    val idxBytes = idxStatus.map(_.getLen).sum
    if (idxBytes <= driverBytesMax)
      spark.read.parquet(idxFiles: _*).collect().toSeq
        .filter { r =>
          val bytes = r.getAs[Array[Byte]]("bloom")
          bytes != null && org.apache.spark.util.sketch.BloomFilter
            .readFrom(new java.io.ByteArrayInputStream(bytes))
            .mightContainLong(hashed)
        }
        .map(_.getAs[String]("file"))
    else {
      distributedProbes.incrementAndGet()
      spark.read.parquet(idxFiles: _*)
        .select("file", "bloom")
        .mapPartitions { rows =>
          rows.flatMap { r =>
            val bytes = r.getAs[Array[Byte]]("bloom")
            if (bytes != null && org.apache.spark.util.sketch.BloomFilter
                .readFrom(new java.io.ByteArrayInputStream(bytes))
                .mightContainLong(hashed)) Some(r.getString(0))
            else None
          }
        }(org.apache.spark.sql.Encoders.STRING)
        .collect().toSeq
    }
  }

  /** Point lookup `keyCol = key` reading only Bloom-surviving files,
    * with the exact predicate re-applied (false positives cost a file
    * open, never a wrong row). */
  def pointLookup(spark: SparkSession, path: String, keyCol: String, key: Long): DataFrame = {
    val files = selectFiles(spark, path, key)
    val base =
      if (files.isEmpty) spark.read.parquet(path).limit(0)
      else spark.read.parquet(files: _*)
    base.filter(col(keyCol) === key)
  }

  /** Multi-key lookup: union of per-key file sets (still metadata-only
    * — one index collect, k probes), one scan over the merged file
    * list, exact IN re-applied. */
  def multiLookup(spark: SparkSession, path: String, keyCol: String, keys: Seq[Long]): DataFrame = {
    val files = keys.flatMap(k => selectFiles(spark, path, k)).distinct
    val base =
      if (files.isEmpty) spark.read.parquet(path).limit(0)
      else spark.read.parquet(files: _*)
    base.filter(col(keyCol).isin(keys: _*))
  }

  /** Total data files at `path` (prune-factor audits). */
  def totalFiles(spark: SparkSession, path: String): Long =
    Zorder.totalFiles(spark, path)

  /** Bloom index as a MANIFEST surface of a
    * [[graft.store.SnapshotStore]] table: build per-(file, column)
    * Bloom filters over the CURRENT snapshot's data files and publish
    * them as the next version (`bloomfile=` marker line, data
    * untouched) — from then on the DSv2 connector's scan consults the
    * index for pushed `=` / `IN` predicates on the indexed columns and
    * prunes files whose filters exclude the probe value, the
    * point-lookup complement of the min/max stats sidecar.
    *
    * Lifecycle mirrors the stats sidecar: delete commits and appends
    * carry the index forward (entries are FILE-keyed — appended files
    * simply have no entry, so they are never pruned), full rewrites
    * drop it, vacuum collects unreferenced index dirs. Entries key by
    * `dirName/fileName` ([[graft.store.SnapshotStore.relFileKey]]), so
    * they stay valid wherever the table root lives.
    *
    * The build reads the RAW files (deleted rows included): a Bloom
    * false positive costs a file open, never a wrong row, so
    * over-inclusion is free correctness-wise. Returns the committed
    * version. */
  def bloomCommit(
      spark: SparkSession,
      table: String,
      cols: Seq[String],
      expectedItems: Long = -1L,
      numBits: Long = -1L): Long = {
    import graft.store.SnapshotStore
    require(cols.nonEmpty, "bloomCommit needs at least one column")
    val cur = SnapshotStore.currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $table"))
    val m = SnapshotStore.manifest(spark, table, cur)
    // AUTO-SIZE from the stats sidecar (default): per-file filters
    // sized to the BIGGEST file's row count at ~8 bits/key (≈2% fpp)
    // instead of a flat 1 MB per (file, column). A 256-file table's
    // column shard then weighs O(rows), not 256 MB — small tables stay
    // on the millisecond LRU-cached driver probe path, and only
    // genuinely huge shards route to the distributed probe. Explicit
    // sizes still win; a missing sidecar falls back to the old flat
    // sizing (over-allocation is a cost, never a correctness risk).
    val maxFileRows: Long = graft.store.FileStats.sidecar(spark, m).entries.values
      .map(_.groups.map(_.rows).sum).foldLeft(-1L)(math.max)
    val items =
      if (expectedItems > 0) expectedItems
      else if (maxFileRows > 0) maxFileRows
      else 1L << 20
    val bits =
      if (numBits > 0) numBits
      else math.min(1L << 23, math.max(1L << 14, java.lang.Long.highestOneBit(items * 8) << 1))
    val files = SnapshotStore.dataFiles(spark, m)
    // evolution-aware read: each generation binds its own PHYSICAL
    // spelling and widened generations upcast under the declared
    // schema — a footer-bound read after a rename nulls the old
    // generation's values, and filters built from nulls wrongly
    // exclude old files from lookups they should answer (a bloom
    // false NEGATIVE is a wrong answer, not a slow one)
    val fileCol = "__graft_bloom_src_file"
    val raw = SnapshotStore.readFilesRaw(spark, m, files, fileNameCol = Some(fileCol))
    val out = s"$table/_bloom/b_${java.util.UUID.randomUUID.toString.take(8)}"
    cols.map { c =>
      val hashed = XxHash64(Seq(Bridge.expression(raw(c))), Seed)
      val agg = Bridge.column(
        new BloomFilterAggregate(hashed, Literal(items), Literal(bits))
          .toAggregateExpression())
      raw
        // file identity = last two path segments (dirName/fileName) —
        // mirror-stable, matches SnapshotStore.relFileKey
        .select(regexp_extract(col(fileCol), "([^/]+/[^/]+)$", 1)
          .alias("file"), raw(c))
        .groupBy(col("file"))
        .agg(agg.alias("bloom"))
        .select(col("file"), lit(c).alias("col"), col("bloom"))
    }.reduce(_ unionAll _)
      // one writer task per column shard (NOT coalesce(1): a single
      // task funneling every (file, column) filter is the 100k-file
      // bottleneck); each shard still lands as one file
      .repartition(col("col"))
      // SHARDED BY COLUMN (round-12): the scan probes one column at a
      // time, and a column-partitioned index lets planning read O(probed
      // columns) of it instead of materializing every (file, column)
      // filter — `col` comes back as a partition column on read, so
      // legacy single-file indexes parse identically
      .write.mode("overwrite").partitionBy("col").parquet(out)
    val next = cur + 1
    if (!SnapshotStore.tryPublishManifest(spark, table, next,
        m.copy(ts = 0L, op = "bloom", srcV = -1L, bloomFile = out)))
      throw new IllegalStateException(
        s"bloomCommit lost the CAS race on $table v$next — re-run against the new head")
    next
  }
}
