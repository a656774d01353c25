package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

/** Materialized aggregate (summary table) registry + builder — the
  * storage half of automatic MV query rewrite
  * ([[graft.plans.AggMvRewriteRule]]).
  *
  * An MV materializes `GROUP BY groupCols` over a parquet base table
  * with the re-aggregable state per measure column: `n` (row count),
  * and `sum_/cnt_/min_/max_<c>` per measure. Any aggregate whose
  * grouping is a SUBSET of `groupCols` and whose aggregates are
  * sum/count/min/max/avg over measure columns is then answerable from
  * the MV by RE-aggregation (sum of sums, min of mins, count = sum of
  * n, avg = sum of sums / sum of cnts) — the classic aggregate-rollup
  * property, the same algebra as
  * [[graft.ops.ChangeData.incrementalAggCommit]]'s delta merge.
  *
  * At 100 TB this is the difference between a dashboard query scanning
  * the fact table and scanning a table the size of the group-key
  * cardinality; the rewrite happens in the optimizer so queries —
  * DataFrame or SQL text — do not change at all.
  */
object MaterializedAgg {

  /** One dimension of a JOIN MV ([[SnapshotMv.createJoin]]): the MV's
    * state aggregates `fact INNER JOIN dim ON zip(factKeys == dimKeys)`
    * carrying `attrs` (dim attribute columns usable as group keys). The
    * joined-at dim VERSION is pinned in the `_mv` sidecar, not here —
    * the registry holds the shape, the sidecar holds the freshness. */
  final case class MvDim(
      table: String,
      factKeys: Seq[String],
      dimKeys: Seq[String],
      attrs: Seq[String])

  /** A registered MV: where the base lives, where the summary lives,
    * what it groups by, and which measures it carries. `snapshot` marks
    * a [[SnapshotMv]]-maintained summary: both paths are snapshot
    * TABLES (not parquet dirs), the rewrite resolves the MV through the
    * snapshot reader, and it fires only when the `_mv` sidecar proves
    * the summary reflects exactly the manifest the scan pinned.
    * Non-empty `dims` marks a JOIN MV: the rewrite matches an aggregate
    * over `base ⋈ dims` (never a bare-base aggregate — the join changes
    * row multiplicity), with every dim's pinned manifest checked too. */
  final case class AggMv(
      basePath: String,
      mvPath: String,
      groupCols: Seq[String],
      measureCols: Seq[String],
      snapshot: Boolean = false,
      dims: Seq[MvDim] = Nil)

  // path-keyed global registry; LogicalRelation resolved lazily per session
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, AggMv]()

  /** MVs registered for the base table at `path` (normalized). */
  def forBasePath(path: String): Option[AggMv] =
    Option(registry.get(normalize(path)))

  def registered: Seq[AggMv] = {
    import scala.jdk.CollectionConverters._
    registry.values.asScala.toSeq
  }

  private def normalize(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** The registry's path normalization, for callers comparing external
    * paths (e.g. the rewrite rule matching a dim leaf to a recorded
    * dim table). */
  private[graft] def normalizePath(p: String): String = normalize(p)

  /** Build the summary table for `basePath` grouped by `groupCols`
    * carrying `measureCols`, write it to `mvPath`, and register it for
    * automatic rewrite. One aggregate over the base at build time. */
  def create(
      spark: SparkSession,
      basePath: String,
      mvPath: String,
      groupCols: Seq[String],
      measureCols: Seq[String]): AggMv = {
    val base = spark.read.parquet(basePath)
    val aggs = count(lit(1)).alias("n") +: measureCols.flatMap { c =>
      Seq(
        sum(col(c)).alias(s"sum_$c"),
        count(col(c)).alias(s"cnt_$c"),
        min(col(c)).alias(s"min_$c"),
        max(col(c)).alias(s"max_$c"))
    }
    base.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(mvPath)
    val mv = AggMv(normalize(basePath), mvPath, groupCols, measureCols)
    registry.put(mv.basePath, mv)
    mv
  }

  /** Register a pre-built MV (e.g. maintained incrementally via
    * [[graft.ops.ChangeData.incrementalAggCommit]]-style state). */
  def register(mv: AggMv): Unit =
    registry.put(normalize(mv.basePath), mv.copy(basePath = normalize(mv.basePath)))

  /** Register the CURRENT version of an incrementally-maintained
    * aggregate snapshot table ([[graft.ops.ChangeData
    * .incrementalAggCommit]] writes the same n/sum_/cnt_/min_/max_
    * state) as the MV for `basePath`. Call again after each refresh —
    * re-registration is how the rewrite tracks table versions (each
    * snapshot's data dir is immutable, so an in-flight query keeps the
    * version it resolved). */
  def registerSnapshot(
      spark: SparkSession,
      snapshotTable: String,
      basePath: String,
      groupCols: Seq[String],
      measureCols: Seq[String]): AggMv = {
    val v = graft.store.SnapshotStore.currentVersion(spark, snapshotTable)
      .getOrElse(throw new IllegalStateException(s"no committed snapshot under $snapshotTable"))
    val m = graft.store.SnapshotStore.manifest(spark, snapshotTable, v)
    // the MV registry stores ONE readable path; a file-granular head
    // (append/MERGE commit) has no single data dir — refuse loudly
    // rather than register an empty path that crashes the next rewrite
    if (m.data.isEmpty)
      throw new UnsupportedOperationException(
        s"registerSnapshot: $snapshotTable's head (v$v) is a file-granular commit; " +
          "run a compacting rewrite (Bucketing.compactCommit) and re-register")
    val mv = AggMv(normalize(basePath), m.data, groupCols, measureCols)
    registry.put(mv.basePath, mv)
    mv
  }

  /** Drop all registrations (tests). */
  def clear(): Unit = registry.clear()

  /** Compact one-token codec for a dim list (URL-encoded names, so the
    * `;`/`|`/`,` separators can never appear inside them) — shared by
    * [[save]]/[[load]] and the `_mv` sidecar's `dims=` line. */
  private[graft] def encodeDims(dims: Seq[MvDim]): String = {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    dims.map(d => Seq(
      enc(d.table),
      d.factKeys.map(enc).mkString("|"),
      d.dimKeys.map(enc).mkString("|"),
      d.attrs.map(enc).mkString("|")).mkString(";")).mkString(",")
  }

  private[graft] def decodeDims(s: String): Seq[MvDim] = {
    def dec(x: String) = java.net.URLDecoder.decode(x, "UTF-8")
    def list(x: String) = x.split("\\|").toSeq.filter(_.nonEmpty).map(dec)
    if (s.isEmpty) Nil
    else s.split(",").toSeq.map { entry =>
      val p = entry.split(";", -1)
      require(p.length == 4, s"malformed MV dim entry: $entry")
      MvDim(dec(p(0)), list(p(1)), list(p(2)), list(p(3)))
    }
  }

  /** Persist the registry (same `k=v` line format as the snapshot-store
    * manifests) so a fresh session restores its MVs with [[load]] —
    * registration survives the JVM, like a catalog would hold it. */
  def save(spark: SparkSession, path: String): Unit = {
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(new org.apache.hadoop.fs.Path(path), true)
    try registered.foreach { mv =>
      out.write(
        (s"mv\tbase=${mv.basePath}\tdata=${mv.mvPath}\tgroup=${mv.groupCols.mkString(",")}\tmeasure=${mv.measureCols.mkString(",")}" +
          (if (mv.snapshot) "\tkind=snapshot" else "") +
          (if (mv.dims.nonEmpty) s"\tdims=${encodeDims(mv.dims)}" else "") + "\n")
          .getBytes("UTF-8"))
    } finally out.close()
  }

  /** Restore registrations written by [[save]]. Unreadable or foreign
    * lines are skipped, not fatal. Returns the number registered. */
  def load(spark: SparkSession, path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) return 0
    val in = f.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val loaded = text.linesIterator.filter(_.startsWith("mv\t")).flatMap { line =>
      val kv = line.split("\t").drop(1)
        .flatMap(t => t.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None })
        .toMap
      for (b <- kv.get("base"); d <- kv.get("data"); g <- kv.get("group"); m <- kv.get("measure"))
        yield AggMv(b, d, g.split(",").toSeq.filter(_.nonEmpty), m.split(",").toSeq.filter(_.nonEmpty),
          snapshot = kv.get("kind").contains("snapshot"),
          dims = kv.get("dims").map(decodeDims).getOrElse(Nil))
    }.toSeq
    loaded.foreach(register)
    loaded.size
  }

  /** A fresh resolved relation for the MV (fresh expr ids per call, so
    * one MV can appear several times in a plan). A snapshot MV resolves
    * through the DSv2 reader as an (analyzed, unconverted) V2 relation:
    * the rewrite rule runs BEFORE the early scan-pushdown batch, which
    * then converts the injected relation — and pushes the re-targeted
    * filters/pruning into the MV scan — like any other. */
  private[graft] def mvRelation(
      spark: SparkSession, mv: AggMv, pinnedVersion: Option[Long] = None): LogicalPlan =
    if (mv.snapshot)
      // pinnedVersion: the MV version whose manifest passed the rewrite
      // rule's freshness check — reading THAT version (not the head)
      // closes the race with a concurrent mv_refresh commit
      pinnedVersion.foldLeft(
          spark.read.format("graft-snapshot").option("path", mv.mvPath))(
          (r, v) => r.option("version", v.toString))
        .load()
        .queryExecution.analyzed.collectFirst {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
            r.newInstance()
        }.getOrElse(throw new IllegalStateException(
          s"snapshot MV at ${mv.mvPath} did not resolve to a V2 relation"))
    else spark.read.parquet(mv.mvPath).queryExecution.analyzed.collectFirst {
      case r: LogicalRelation => r.newInstance()
    }.getOrElse(throw new IllegalStateException(s"MV at ${mv.mvPath} did not resolve to a relation"))

  /** Does this path-backed relation match a registered base? */
  private[graft] def matchBase(rootPaths: Seq[String]): Option[AggMv] =
    rootPaths match {
      case Seq(p) => forBasePath(p)
      case _      => None
    }
}
