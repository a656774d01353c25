package graft.ops

import graft.store.SnapshotStore

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** NDV (distinct-count) column statistics for snapshot tables —
  * PER-FILE, MERGEABLE HLL sketches (Apache DataSketches, the library
  * Spark's own `hll_sketch_agg` uses), published as a manifest surface
  * (`ndvfile=` marker line) exactly like the Bloom index:
  *
  *  - [[analyzeCommit]] runs ONE distributed pass over the current
  *    snapshot (`CALL system.analyze(table, columns)`), aggregates an
  *    HLL sketch per (file, column), and commits the sketch parquet as
  *    the next version — data untouched.
  *  - Entries are FILE-keyed (`dirName/fileName`), so appends and
  *    row-level commits carry the surface forward verbatim: inherited
  *    files keep their sketches, fresh files simply have none yet.
  *  - The DSv2 scan's `estimateStatistics` UNIONS the kept files'
  *    sketches per column (sketch union = exact distinct-set union,
  *    the whole point of HLL mergeability) and reports V2
  *    `ColumnStatistics.distinctCount`, which Spark's CBO
  *    (`spark.sql.cbo.enabled`) folds into join cardinality and
  *    reorder decisions — join ordering over snapshot tables stops
  *    guessing from row counts alone.
  *
  * 100 TB shape: the analyze pass is O(data) ONCE (schedule with
  * maintenance); the sidecar write is parallel (no single-task
  * funnel). At plan time a sidecar up to
  * `spark.graft.ndv.driverBytesMax` (default 32 MB, ~10⁴ files ×
  * probed columns) is parsed once on the driver and LRU-cached; a
  * BIGGER sidecar is never materialized on the driver at all — the
  * per-column union runs as a distributed `hll_union_agg` job over
  * the sidecar parquet and only ONE (estimate, nulls) row per column
  * comes back. Estimates are ±~1.6% at lgK=12 — far inside the 10%
  * CBO usefulness bound. */
object NdvStats {

  val LgK = 12

  /** One distributed pass: per-(file, column) HLL sketches over the
    * CURRENT snapshot's files, committed as the next version. Returns
    * the committed version. */
  def analyzeCommit(spark: SparkSession, table: String, cols: Seq[String]): Long = {
    require(cols.nonEmpty, "analyzeCommit needs at least one column")
    val cur = SnapshotStore.currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $table"))
    val m = SnapshotStore.manifest(spark, table, cur)
    val files = SnapshotStore.dataFiles(spark, m)
    // evolution-aware read (round 14): each generation binds its own
    // physical spelling and widened generations upcast under the
    // declared schema — a footer-bound read after a rename sketched
    // old-generation files as all-null (CBO under-estimates), and
    // after a widen the footer merge refused INT32 vs INT64
    val fileCol = "__graft_ndv_src_file"
    val raw = SnapshotStore.readFilesRaw(spark, m, files, fileNameCol = Some(fileCol))
    cols.foreach(c => require(raw.schema.fieldNames.contains(c),
      s"analyze column '$c' is not in the table schema"))
    val out = s"$table/_ndv/n_${java.util.UUID.randomUUID.toString.take(8)}"
    // Files with ZERO rows never reach the groupBy (nothing to group),
    // but coverage is all-files-or-nothing — one empty part file (an
    // empty write partition / split, routine at scale) would silently
    // void every estimate this analyze just paid for, and with it the
    // null-count pushdowns that depend on it (seen live: the sf10
    // corpus run declined dt_agg_nullaware's metadata plan over one
    // 0-row-group file). Pad a coverage entry per (zero-row file,
    // column): empty HLL + empty KLL merge as identities, nulls = 0.
    // Zero-row-ness is PROVEN from the stats sidecar; a file the
    // sidecar doesn't cover stays unpadded (conservative as before).
    val zeroRowKeys: Seq[String] = {
      val entries = graft.store.FileStats.sidecar(spark, m).entries
      files.filter(f => entries.get(f).exists(_.groups.map(_.rows).sum == 0L))
        .map(SnapshotStore.relFileKey)
    }
    val pad: Seq[org.apache.spark.sql.DataFrame] =
      if (zeroRowKeys.isEmpty) Nil
      else {
        val emptyHll = new org.apache.datasketches.hll.HllSketch(LgK).toCompactByteArray
        val emptyKll = org.apache.datasketches.kll.KllDoublesSketch
          .newHeapInstance(graft.functions.KllSketches.DefaultK).toByteArray
        import spark.implicits._
        Seq(zeroRowKeys.flatMap(fk => cols.map { c =>
          val kll =
            if (graft.functions.KllSketches.supported(raw.schema(c).dataType)) emptyKll
            else null
          (fk, c, emptyHll, 0L, kll)
        }).toDF("file", "col", "sketch", "nulls", "kll"))
      }
    (cols.map { c =>
      // quantile sketch rides the same row for numeric/date/timestamp
      // columns (equi-height histograms for CBO range selectivity);
      // other types carry a null — coverage logic skips them
      val kllCol =
        if (graft.functions.KllSketches.supported(raw.schema(c).dataType))
          org.apache.spark.sql.graftbridge.Bridge.column(
            graft.functions.KllSketchAgg(
              org.apache.spark.sql.graftbridge.Bridge.expression(raw(c)))
              .toAggregateExpression()).alias("kll")
        else lit(null).cast("binary").alias("kll")
      raw
        // file identity = dirName/fileName, mirror-stable
        // (SnapshotStore.relFileKey) — partition-routed files keep
        // their immediate parent dir in the key like every other
        // file-keyed surface
        .select(regexp_extract(col(fileCol), "([^/]+/[^/]+)$", 1).alias("file"),
          raw(c))
        .groupBy(col("file"))
        // nulls ride along exactly (CBO's join estimation requires a
        // null count next to the distinct count — hasCountStats)
        .agg(hll_sketch_agg(raw(c), lit(LgK)).alias("sketch"),
          (count(lit(1)) - count(raw(c))).alias("nulls"),
          kllCol)
        .select(col("file"), lit(c).alias("col"), col("sketch"), col("nulls"), col("kll"))
    } ++ pad).reduce(_ unionAll _)
      // PARALLEL sidecar write — the shuffle already distributed the
      // (file, column) rows; funneling them through one task
      // (`coalesce(1)`, pre-round-14) made every large-table analyze
      // tail on a single writer. AQE's partition coalescing keeps the
      // file count proportionate at small scale.
      .write.mode("overwrite").parquet(out)
    val next = cur + 1
    if (!SnapshotStore.tryPublishManifest(spark, table, next,
        m.copy(ts = 0L, op = "analyze", srcV = -1L, ndvFile = out)))
      throw new IllegalStateException(
        s"analyzeCommit lost the CAS race on $table v$next — re-run against the new head")
    next
  }

  // ---- plan-time resolution ------------------------------------------

  /** Sketch entries PARSED ON THE DRIVER since JVM start (test pin:
    * the distributed path must never move it). */
  val driverEntriesLoaded = new java.util.concurrent.atomic.AtomicLong
  /** Distributed per-column union JOBS run since JVM start (test pin:
    * the driver path must never move it). */
  val distributedUnions = new java.util.concurrent.atomic.AtomicLong

  private def lru[K, V](cap: Int): java.util.Map[K, V] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[K, V](16, 0.75f, /* accessOrder = */ true) {
        override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
          size() > cap
      })

  /** One sidecar row, parsed: the HLL sketch bytes, the exact null
    * count, and (when the column is numeric/date/timestamp and the
    * sidecar was written since round 14) the KLL quantile sketch. */
  private final case class Entry(hll: Array[Byte], nulls: Long, kll: Option[Array[Byte]])

  /** Per-column plan-time statistics over a concrete kept-file set:
    * distinct-count estimate, exact null count, and an optional
    * equi-height histogram (height = rows per bin; bins carry
    * (lo, hi, per-bin NDV approximation) in the catalyst-internal
    * double domain — epoch days for dates, epoch micros for
    * timestamps). */
  final case class ColStats(
      ndv: Long, nulls: Long, histogram: Option[(Double, Array[(Double, Double, Long)])])

  /** Sidecar parse cache (JVM-wide by ndv-file path — immutable once a
    * marker references it): (fileKey, col) → [[Entry]]. LRU-evicted
    * (access order, capacity 64), never a blunt clear(): hot tables'
    * sidecars stay warm while cold ones age out — the same policy as
    * the Bloom column cache. */
  private val cache = lru[String, Map[(String, String), Entry]](64)
  /** Sidecar byte sizes (immutable once written — safe to cache). */
  private val sizeCache = lru[String, java.lang.Long](256)
  /** Distributed union results: (ndvFile, md5 of the sorted file-key
    * set) → per-column stats. Bounded; repeated planning of the same
    * snapshot never re-runs the job. */
  private val distCache = lru[(String, String), Map[String, ColStats]](64)

  private def sketches(
      spark: SparkSession, ndvFile: String): Map[(String, String), Entry] = {
    val hit = cache.get(ndvFile)
    if (hit != null) return hit
    val df = spark.read.parquet(ndvFile)
    val hasKll = df.schema.fieldNames.contains("kll") // pre-round-14 sidecars lack it
    val loaded = df.collect().toSeq.flatMap { r =>
      Option(r.getAs[Array[Byte]]("sketch")).map { b =>
        driverEntriesLoaded.incrementAndGet()
        ((r.getAs[String]("file"), r.getAs[String]("col")),
          Entry(b, r.getAs[Long]("nulls"),
            if (hasKll) Option(r.getAs[Array[Byte]]("kll")) else None))
      }
    }.toMap
    cache.put(ndvFile, loaded)
    loaded
  }

  private def sidecarBytes(spark: SparkSession, ndvFile: String): Long = {
    val hit = sizeCache.get(ndvFile)
    if (hit != null) return hit.longValue()
    val p = new org.apache.hadoop.fs.Path(ndvFile)
    val sz = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
    sizeCache.put(ndvFile, java.lang.Long.valueOf(sz))
    sz
  }

  /** Distinct-count + null-count estimates per column over exactly
    * `files`, from the union of their per-file sketches. A column is
    * reported ONLY when every file has a sketch (a partial union would
    * silently underestimate NDV for CBO — worse than no estimate).
    *
    * Routing: a sidecar within `spark.graft.ndv.driverBytesMax`
    * (default 32 MB) is parsed once on the driver and unioned in
    * process (the hot path — O(probed tables) small parquet reads per
    * JVM); a bigger sidecar runs the union DISTRIBUTEDLY
    * (`hll_union_agg` over the sidecar parquet, kept-file set shipped
    * as a broadcast semi-join) and only one merged (estimate, nulls)
    * row per column reaches the driver — plan-time driver memory stays
    * O(columns) no matter how many files the table has. */
  def estimates(
      spark: SparkSession,
      ndvFile: String,
      files: Seq[String]): Map[String, (Long, Long)] =
    stats(spark, ndvFile, files).map { case (c, s) => c -> ((s.ndv, s.nulls)) }

  /** Full per-column plan-time statistics (NDV + nulls + optional
    * equi-height histogram) over exactly `files`. `numBins` defaults to
    * Spark's own `spark.sql.statistics.histogram.numBins`. */
  def stats(
      spark: SparkSession,
      ndvFile: String,
      files: Seq[String],
      numBins: Int = 0): Map[String, ColStats] = {
    if (ndvFile.isEmpty || files.isEmpty) return Map.empty
    val bins =
      if (numBins > 0) numBins
      else spark.conf.get("spark.sql.statistics.histogram.numBins", "254").toInt
    val keys = files.map(SnapshotStore.relFileKey).distinct
    val driverBytesMax = spark.conf.get(
      "spark.graft.ndv.driverBytesMax", (32L << 20).toString).toLong
    try {
      if (sidecarBytes(spark, ndvFile) <= driverBytesMax)
        driverStats(spark, ndvFile, keys, bins)
      else
        distributedStats(spark, ndvFile, keys, bins)
    } catch { case scala.util.control.NonFatal(_) => Map.empty }
  }

  /** Minimum relative deviation of the quantile curve from a straight
    * min→max line before a histogram is emitted at all. Histograms are
    * a SKEW corrector: on a near-uniform column min/max interpolation
    * is already right, the exact-NDV join formula is already right,
    * and feeding the optimizer approximate misaligned bins (per-bin
    * NDV is an equal split, boundaries carry sketch rank error) can
    * only replace a good estimate with a noisy one — measured as a
    * 2.5× join-cardinality error on a uniform key. Skewed columns are
    * exactly where the bins pay for themselves. */
  val HistogramSkewMin = 0.15

  /** Equi-height bins from a merged KLL sketch: boundaries at ranks
    * i/n, height = rows per bin, per-bin NDV approximated as an equal
    * split of the column NDV (the standard approximation — per-bin
    * exactness would need a sketch per bin). Near-uniform
    * distributions return None (see [[HistogramSkewMin]]). */
  private def binsOf(
      sk: org.apache.datasketches.kll.KllDoublesSketch,
      numBins: Int,
      ndv: Long): Option[(Double, Array[(Double, Double, Long)])] = {
    if (sk.isEmpty) return None
    val n = math.min(numBins.toLong, math.max(1L, sk.getN)).toInt
    val ranks = Array.tabulate(n + 1)(i => i.toDouble / n)
    val qs = sk.getQuantiles(ranks,
      org.apache.datasketches.quantilescommon.QuantileSearchCriteria.INCLUSIVE)
    val range = qs(n) - qs(0)
    if (range <= 0) return None // constant column: min/max already exact
    val skew = (1 until n).iterator.map { i =>
      math.abs(qs(i) - (qs(0) + range * i / n)) / range
    }.max
    if (skew < HistogramSkewMin) return None
    val binNdv = math.max(1L, math.round(ndv.toDouble / n))
    Some((sk.getN.toDouble / n, Array.tabulate(n)(i => (qs(i), qs(i + 1), binNdv))))
  }

  private def driverStats(
      spark: SparkSession, ndvFile: String, keys: Seq[String],
      numBins: Int): Map[String, ColStats] = {
    val sk = sketches(spark, ndvFile)
    sk.keysIterator.map(_._2).toSet.toSeq.flatMap { (c: String) =>
      val parts = keys.map(fk => sk.get((fk, c)))
      if (parts.exists(_.isEmpty)) None // uncovered file → no estimate
      else {
        val entries = parts.flatten
        val u = new org.apache.datasketches.hll.Union(LgK)
        entries.foreach(e =>
          u.update(org.apache.datasketches.hll.HllSketch.heapify(e.hll)))
        val ndv = math.max(0L, math.round(u.getResult.getEstimate))
        // histogram only under FULL kll coverage (same doctrine as NDV:
        // a partial merge would misplace every quantile)
        val hist =
          if (entries.exists(_.kll.isEmpty)) None
          else {
            val m = org.apache.datasketches.kll.KllDoublesSketch
              .newHeapInstance(graft.functions.KllSketches.DefaultK)
            entries.foreach(e => m.merge(org.apache.datasketches.kll.KllDoublesSketch
              .heapify(org.apache.datasketches.memory.Memory.wrap(e.kll.get))))
            binsOf(m, numBins, ndv)
          }
        Some(c -> ColStats(ndv, entries.map(_.nulls).sum, hist))
      }
    }.toMap
  }

  private def distributedStats(
      spark: SparkSession, ndvFile: String, keys: Seq[String],
      numBins: Int): Map[String, ColStats] = {
    val setKey = {
      val md = java.security.MessageDigest.getInstance("MD5")
      keys.sorted.foreach(k => md.update(k.getBytes("UTF-8")))
      java.util.Base64.getEncoder.encodeToString(md.digest())
    }
    val hit = distCache.get((ndvFile, setKey))
    if (hit != null) return hit
    distributedUnions.incrementAndGet()
    // kept-file set as a broadcast semi-join build side: the driver
    // already holds the file list, so shipping it is O(paths); the
    // sidecar (the big side) streams through executors and never
    // lands on the driver — per column, ONE merged (ndv, nulls, kll)
    // row comes back
    val keysDf = spark.createDataset(keys)(org.apache.spark.sql.Encoders.STRING)
      .toDF("file")
    val sidecar = spark.read.parquet(ndvFile)
    val hasKll = sidecar.schema.fieldNames.contains("kll")
    val base = sidecar
      .filter(col("sketch").isNotNull)
      .join(broadcast(keysDf), Seq("file"), "inner")
      .groupBy(col("col"))
    val aggd =
      if (hasKll) base.agg(
        hll_sketch_estimate(hll_union_agg(col("sketch"), lit(true))).alias("ndv"),
        sum(col("nulls")).alias("nulls"),
        count(lit(1)).alias("nfiles"),
        org.apache.spark.sql.graftbridge.Bridge.column(
          graft.functions.KllMergeAgg(
            org.apache.spark.sql.graftbridge.Bridge.expression(col("kll")))
            .toAggregateExpression()).alias("kll"),
        count(col("kll")).alias("kllfiles"))
      else base.agg(
        hll_sketch_estimate(hll_union_agg(col("sketch"), lit(true))).alias("ndv"),
        sum(col("nulls")).alias("nulls"),
        count(lit(1)).alias("nfiles"),
        lit(null).cast("binary").alias("kll"),
        lit(0L).alias("kllfiles"))
    val rows = aggd.collect()
    val n = keys.size.toLong
    val out = rows.iterator.flatMap { r =>
      // full coverage only — same contract as the driver path
      if (r.getAs[Long]("nfiles") != n) None
      else {
        val ndv = math.max(0L, r.getAs[Long]("ndv"))
        val hist = Option(r.getAs[Array[Byte]]("kll"))
          .filter(_ => r.getAs[Long]("kllfiles") == n)
          .flatMap(b => binsOf(
            org.apache.datasketches.kll.KllDoublesSketch.heapify(
              org.apache.datasketches.memory.Memory.wrap(b)), numBins, ndv))
        Some(r.getAs[String]("col") -> ColStats(ndv, r.getAs[Long]("nulls"), hist))
      }
    }.toMap
    distCache.put((ndvFile, setKey), out)
    out
  }
}
