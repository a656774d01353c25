package graft.store

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, ShortType, StructType}

/** Snapshot-isolated plain-parquet tables: a minimal commit-log layout
  * that gives read-union-rewrite maintenance jobs (SCD2 merge, CDC
  * state, compaction) atomic visibility without an external table
  * format.
  *
  * Layout under a table root:
  * {{{
  *   <table>/v=<N>/part-*.parquet    immutable snapshot data (never edited)
  *   <table>/v=<N>__<tok>/...        writer-unique staged data (multi-writer)
  *   <table>/_deletes/d_<tok>/...    deletion-vector key files (merge-on-read)
  *   <table>/_commits/<N>            commit marker = tiny manifest, atomic
  * }}}
  *
  * The invariant that buys isolation: '''a version exists for readers
  * only once its marker file exists''', and the marker is published with
  * an atomic rename (temp file → final name), the same primitive Spark's
  * own streaming manifest log relies on. A writer builds its data dir at
  * leisure — crash mid-write and the directory is an invisible orphan
  * that [[vacuum]] collects; a concurrent reader resolves the newest
  * MARKER, so it sees the previous complete snapshot until the instant
  * the new one is fully durable, and never a half-rewritten mix.
  *
  * '''Marker = manifest.''' A marker's content names the version's data
  * directory plus any deletion-vector files and their key columns
  * (plain `k=v` lines — no JSON dependency, readable with `cat`):
  * {{{
  *   data=<table>/v=7__a3f1
  *   delete=<table>/_deletes/d_09c2
  *   keys=o_orderkey
  * }}}
  * Legacy single-line markers (a bare data-dir path) still parse.
  *
  * '''Multi-writer commits are optimistic CAS.''' The marker file for
  * version N is published with a no-overwrite rename
  * (`FileContext.rename(…, Options.Rename.NONE)` — atomic on HDFS;
  * checked on the local fs). Exactly one writer wins version N; a loser
  * observes the conflict, drops its staged data, re-reads the NEW
  * current snapshot, and re-derives its change against it
  * ([[commitTransform]] — rebase-and-retry, the same protocol as
  * Delta/Iceberg optimistic concurrency). Writers stage data under
  * writer-unique dirs (`v=<N>__<token>`) so racing stages never collide.
  *
  * '''Deletion vectors (merge-on-read).''' [[deleteCommit]] writes only
  * the deleted KEYS (eval-set-sized) and publishes a manifest that
  * reuses the previous version's data directory — an O(deleted-keys)
  * commit instead of an O(table) rewrite, the point of merge-on-read at
  * 100 TB. Readers apply DVs as a broadcast anti join (the delete side
  * is small by construction); any full rewrite ([[commit]], SCD2 merge,
  * `Zorder.optimizeCommit`, `Bucketing.compactCommit`) naturally
  * materializes them away because its fresh manifest carries no
  * `delete=` lines.
  *
  * Scale notes for the 100 TB shape:
  *  - Readers list `_commits/` (tiny marker files), never the data tree.
  *  - Each commit rewrites only what the job rewrites; history is
  *    retained until [[vacuum]], so long-running readers pinned to an
  *    old version keep a consistent view (keep ≥ 2 grace versions).
  *  - [[vacuum]] is reference-counted over manifests: a data dir or DV
  *    file survives while ANY retained version references it (delete
  *    commits share their predecessor's data dir).
  *
  * Reference analog: the weather warehouse overwrites plain parquet in
  * place (`build_dimensions.py:93`), so an Athena query racing the Glue
  * rewrite can see a torn table — this store is the repo's answer to
  * that gap.
  */
object SnapshotStore {

  /** What a commit marker resolves to: the snapshot's data (either one
    * directory — legacy dir-granular commits — or an explicit FILE list
    * for file-granular commits), the deletion-vector key files to
    * anti-join away, the key columns those files carry, the commit
    * wall-clock (epoch millis; 0 for markers published before
    * timestamps existed), and the operation kind that produced it.
    *
    * File-granular manifests (`files` non-empty) are what make APPEND
    * an O(new-files) commit: version N+1's manifest lists version N's
    * files plus the newly staged ones — no byte of existing data moves,
    * and the change feed can emit exactly the added files as a delta
    * instead of a full table image. */
  final case class Manifest(
      data: String,
      deletes: Seq[String],
      keyCols: Seq[String],
      ts: Long = 0L,
      files: Seq[String] = Nil,
      op: String = "",
      statsExact: Boolean = false,
      srcV: Long = -1L,
      mixedSchema: Boolean = false,
      statsFile: String = "",
      bucketCols: Seq[String] = Nil,
      bucketN: Int = 0,
      bloomFile: String = "",
      sortCols: Seq[String] = Nil,
      partSpec: Seq[PartitionSpec.PartField] = Nil,
      ndvFile: String = "",
      provenance: String = "",
      /** Spec GENERATION of `partSpec` (0 = the legacy unnumbered
        * `__gpN` directory names). Bumped by [[evolvePartitionSpec]];
        * each generation routes into generation-tagged directories, so
        * one manifest can prune files written under different specs. */
      partGen: Int = 0,
      /** Older spec generations still covering referenced files:
        * (generation, spec). Full rewrites drop the history (every
        * surviving file is re-routed under the current spec). */
      partHist: Seq[(Int, Seq[PartitionSpec.PartField])] = Nil,
      /** COLUMN NAME MAPPING (`ALTER TABLE ... RENAME COLUMN`, round
        * 14): logical name → the older physical names still present in
        * referenced files, newest alias first. Readers bind each
        * file's columns through the mapping; writers always use the
        * logical names, and a full rewrite clears the mapping. */
      renames: Seq[(String, Seq[String])] = Nil,
      /** Physical names retired by `ALTER TABLE ... DROP COLUMN`
        * (including every alias the dropped column ever had): hidden
        * from reads, and re-ADDing any of them is refused — old files
        * still hold their values, which would otherwise resurface
        * under the recycled name. A full rewrite clears the list. */
      droppedCols: Seq[String] = Nil,
      /** COLUMN TYPE WIDENING (`ALTER TABLE ... ALTER COLUMN ... TYPE`,
        * round 14): logical name → widened Spark type (catalogString).
        * One metadata commit — old files keep their narrow physical
        * type and readers upcast natively (Spark 4 parquet type
        * widening); new files carry the wide type. A full rewrite
        * materializes the widening away. */
      widens: Seq[(String, String)] = Nil,
      /** The table's LOGICAL schema (StructType json), present iff
        * `widens` is — footer schema inference cannot merge a
        * narrow-generation INT32 with a wide-generation INT64, so the
        * widen commit pins the declared schema and every later commit
        * kind carries (or grows) it. */
      schemaJson: String = "",
      /** ROW-GRANULAR change sidecar (round 16): a copy-on-write
        * row-level commit (SQL MERGE/UPDATE/DELETE) records the rows
        * that actually changed under `_rowchanges/<tok>/{removes,
        * inserts}` — the change feed then streams O(changed rows)
        * instead of replaying every touched file both ways. Strictly
        * PER-COMMIT (like `op`): never carried forward by later
        * commits. Lifecycle mirrors `_ndv` (kept until the table dir
        * goes; entries for aged-out versions are just unread). */
      rowChanges: String = "")

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitsDir(table: String) = s"$table/_commits"

  private def deletesDir(table: String) = s"$table/_deletes"

  private def refsDir(table: String) = s"$table/_refs"

  private def parseVersion(name: String): Option[Long] =
    // tolerate foreign files (temp markers, editor droppings): skip, don't die
    scala.util.Try(name.toLong).toOption

  /** Version prefix of a data-dir name: `v=5` → 5, `v=5__a3f1` → 5
    * (writer-unique staged dirs carry a token suffix). */
  private def dirVersion(name: String): Option[Long] = {
    val core = name.stripPrefix("v=").takeWhile(_.isDigit)
    if (core.isEmpty) None else parseVersion(core)
  }

  private def token(): String = java.util.UUID.randomUUID.toString.take(8)

  // ---- deletion-vector FILE SCOPES -------------------------------
  // A DV records WHICH data files it applies to (`_scope.txt` inside
  // the DV's parquet dir: one `dirName/fileName` entry per covered
  // file, relative so mirrors need no path rewrite; the leading
  // underscore hides it from parquet readers). Scoping is what makes
  // APPEND legal while DVs are live: a DV covers exactly the files
  // that existed when its delete committed, so a re-appended key is a
  // NEW row in an uncovered file — not a resurrected one. A DV
  // WITHOUT a scope (legacy commits) applies table-wide, and appends
  // on such tables stay refused. The scope shares the DV dir's
  // lifecycle for free: vacuum collects the dir whole.

  private def dvScopeFile(dv: String) = s"$dv/_scope.txt"

  /** Stable `dirName/fileName` identity of a data file — the same
    * (dir, file) convention vacuum's liveness refcount uses. */
  def relFileKey(p: String): String = {
    val q = new Path(p)
    s"${q.getParent.getName}/${q.getName}"
  }

  /** Allocate a fresh DV-dir path for an external DV writer (the DSv2
    * merge-on-read delta path stages its delete keys there). The dir is
    * unreferenced until a manifest names it — CAS-defeated stages are
    * orphans vacuum collects. */
  def newDvDir(table: String): String = s"${deletesDir(table)}/d_${token()}"

  /** Record a DV's file scope ([[dvScope]]) — for external DV writers. */
  private[graft] def recordDvScope(spark: SparkSession, dv: String, covered: Seq[String]): Unit =
    writeDvScope(spark, dv, covered)

  private def writeDvScope(spark: SparkSession, dv: String, covered: Seq[String]): Unit = {
    val f = fs(spark, dv)
    val out = f.create(new Path(dvScopeFile(dv)), true)
    try out.write(covered.map(relFileKey).sorted.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** The file scope of one DV: Some(covered relative keys), or None for
    * a legacy table-wide DV. */
  def dvScope(spark: SparkSession, dv: String): Option[Set[String]] = {
    val p = new Path(dvScopeFile(dv))
    val f = fs(spark, dv)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toSet)
      finally in.close()
    }
  }

  /** Live DVs WITHOUT a file scope (legacy, pre-scope commits): these
    * apply table-wide, so incremental surfaces (append, copy-on-write
    * row-level SQL, small-file compaction) must refuse while any
    * exist — a compacting rewrite materializes them away. */
  def unscopedDvs(spark: SparkSession, m: Manifest): Seq[String] =
    m.deletes.filter(d => dvScope(spark, d).isEmpty)

  /** Group a manifest's data files by the SET of DVs that apply to
    * each (identified by index into `m.deletes`): the partition a
    * scoped reader applies DVs class-by-class over. For a plain
    * delete-only history this is ONE class (all DVs × all files —
    * exactly the legacy shape); each append after a delete adds one
    * class of files the earlier DVs don't touch. */
  def dvClasses(spark: SparkSession, m: Manifest, files: Seq[String])
      : Seq[(Seq[Int], Seq[String])] = {
    val scopes = m.deletes.map(dvScope(spark, _))
    val byClass = scala.collection.mutable.LinkedHashMap.empty[Seq[Int], scala.collection.mutable.ArrayBuffer[String]]
    files.foreach { f =>
      val k = relFileKey(f)
      // None = legacy table-wide DV: applies to every file
      val applicable = m.deletes.indices.filter(i => scopes(i).forall(_.contains(k)))
      byClass.getOrElseUpdate(applicable, scala.collection.mutable.ArrayBuffer.empty) += f
    }
    byClass.toSeq.map { case (idx, fs) => (idx, fs.toSeq) }
  }

  /** True when data written through this session's parquet writer has
    * UNTRUNCATED binary statistics — a commit-time fact the writer can
    * prove (parquet-mr truncates only when
    * `parquet.statistics.truncate.length` is configured). Recorded as
    * `stats=exact` in the manifest so footer STRING aggregates know the
    * min/max are actual values, not truncated bounds; foreign data
    * published via [[publishMarker]] never gets the tag. */
  private[graft] def writerStatsExact(spark: SparkSession): Boolean =
    spark.sparkContext.hadoopConfiguration
      .getInt("parquet.statistics.truncate.length", Int.MaxValue) == Int.MaxValue

  /** All committed versions, ascending (empty if the table has none). */
  def versions(spark: SparkSession, table: String): Seq[Long] = {
    val dir = new Path(commitsDir(table))
    val f = fs(spark, table)
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).toSeq
      .filter(_.isFile)
      .flatMap(s => parseVersion(s.getPath.getName))
      .sorted
  }

  /** Newest committed version, if any. */
  def currentVersion(spark: SparkSession, table: String): Option[Long] =
    versions(spark, table).lastOption

  def versionDir(table: String, v: Long): String = s"$table/v=$v"

  /** Resolve a committed version's manifest from its marker content.
    * Legacy markers (bare path, or the pre-manifest era's fixed layout)
    * resolve to `v=<N>` with no deletes. */
  def manifest(spark: SparkSession, table: String, v: Long): Manifest = {
    val marker = new Path(commitsDir(table), v.toString)
    val f = fs(spark, table)
    require(f.exists(marker), s"version $v is not committed under $table")
    val in = f.open(marker)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    val markerKeys = Seq("data=", "file=", "delete=", "keys=", "op=", "ts=", "stats=", "src=", "schema=", "statsfile=", "bucket=", "bloomfile=", "sortcols=", "part=", "ndvfile=", "provenance=", "partgen=", "parthist=", "rename=", "dropcols=", "widen=", "schemajson=", "rowchanges=")
    if (lines.exists(l => markerKeys.exists(l.startsWith))) {
      Manifest(
        data = lines.find(_.startsWith("data=")).map(_.stripPrefix("data=")).getOrElse(""),
        deletes = lines.filter(_.startsWith("delete=")).map(_.stripPrefix("delete=")),
        keyCols = lines.find(_.startsWith("keys=")).map(_.stripPrefix("keys=").split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil),
        ts = lines.find(_.startsWith("ts=")).flatMap(l => scala.util.Try(l.stripPrefix("ts=").toLong).toOption).getOrElse(0L),
        files = lines.filter(_.startsWith("file=")).map(_.stripPrefix("file=")),
        op = lines.find(_.startsWith("op=")).map(_.stripPrefix("op=")).getOrElse(""),
        statsExact = lines.contains("stats=exact"),
        mixedSchema = lines.contains("schema=mixed"),
        srcV = lines.find(_.startsWith("src="))
          .flatMap(l => scala.util.Try(l.stripPrefix("src=").toLong).toOption).getOrElse(-1L),
        statsFile = lines.find(_.startsWith("statsfile="))
          .map(_.stripPrefix("statsfile=")).getOrElse(""),
        bucketCols = lines.find(_.startsWith("bucket="))
          .map(_.stripPrefix("bucket=").split(":")(0).split(",").toSeq.map(_.trim)).getOrElse(Nil),
        bucketN = lines.find(_.startsWith("bucket="))
          .flatMap(l => scala.util.Try(l.stripPrefix("bucket=").split(":")(1).toInt).toOption)
          .getOrElse(0),
        bloomFile = lines.find(_.startsWith("bloomfile="))
          .map(_.stripPrefix("bloomfile=")).getOrElse(""),
        sortCols = lines.find(_.startsWith("sortcols="))
          .map(_.stripPrefix("sortcols=").split(",").toSeq.map(_.trim).filter(_.nonEmpty))
          .getOrElse(Nil),
        partSpec = lines.find(_.startsWith("part="))
          .map(l => PartitionSpec.parse(l.stripPrefix("part="))).getOrElse(Nil),
        ndvFile = lines.find(_.startsWith("ndvfile="))
          .map(_.stripPrefix("ndvfile=")).getOrElse(""),
        provenance = lines.find(_.startsWith("provenance="))
          .map(_.stripPrefix("provenance=")).getOrElse(""),
        partGen = lines.find(_.startsWith("partgen="))
          .flatMap(l => l.stripPrefix("partgen=").toIntOption).getOrElse(0),
        partHist = lines.filter(_.startsWith("parthist=")).map { l =>
          val body = l.stripPrefix("parthist=")
          val cut = body.indexOf(':')
          (body.take(cut).toInt, PartitionSpec.parse(body.drop(cut + 1)))
        },
        renames = lines.filter(_.startsWith("rename=")).map { l =>
          val body = l.stripPrefix("rename=")
          val cut = body.indexOf(':')
          (body.take(cut), body.drop(cut + 1).split(',').toSeq.filter(_.nonEmpty))
        },
        droppedCols = lines.find(_.startsWith("dropcols="))
          .map(_.stripPrefix("dropcols=").split(',').toSeq.filter(_.nonEmpty))
          .getOrElse(Nil),
        widens = lines.filter(_.startsWith("widen=")).map { l =>
          val body = l.stripPrefix("widen=")
          val cut = body.indexOf(':')
          (body.take(cut), body.drop(cut + 1))
        },
        schemaJson = lines.find(_.startsWith("schemajson="))
          .map(_.stripPrefix("schemajson=")).getOrElse(""),
        rowChanges = lines.find(_.startsWith("rowchanges="))
          .map(_.stripPrefix("rowchanges=")).getOrElse(""))
    } else {
      // legacy bare-path marker (or empty → the fixed v=<N> layout)
      Manifest(lines.headOption.getOrElse(versionDir(table, v)), Nil, Nil)
    }
  }

  /** Read the newest committed snapshot. */
  def read(spark: SparkSession, table: String): DataFrame =
    currentVersion(spark, table)
      .map(v => readVersion(spark, table, v))
      .getOrElse(throw new IllegalStateException(s"no committed snapshot under $table"))

  /** The parquet data files a manifest resolves to: the explicit file
    * list for file-granular commits (zero filesystem round-trips), or
    * a listing of the data directory for legacy dir-granular commits.
    * ONE home for the resolution — every reader (engine, DSv2 scan,
    * change feed, vacuum refcount) goes through it. */
  def dataFiles(spark: SparkSession, m: Manifest): Seq[String] =
    if (m.files.nonEmpty) m.files
    else {
      val dir = new Path(m.data)
      val f = fs(spark, m.data)
      if (!f.exists(dir)) Seq.empty
      else f.listStatus(dir).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toString)
    }

  /** Time travel: read one specific committed snapshot. Deletion
    * vectors apply as a broadcast anti join on the manifest's key
    * columns (the delete side is deleted-keys-sized — small). */
  def readVersion(spark: SparkSession, table: String, v: Long): DataFrame = {
    val m = manifest(spark, table, v)
    val base =
      if (m.deletes.isEmpty) {
        if (ColumnMapping.existsDefaults(m).nonEmpty)
          boundParquet(spark, m, dataFiles(spark, m))
        else {
          val reader = versionReader(spark, m)
          if (m.files.nonEmpty) reader.parquet(m.files: _*)
          else reader.parquet(m.data)
        }
      } else readFilesWithDvs(spark, m, dataFiles(spark, m))
    ColumnMapping.applyToFrame(base, m)
  }

  /** `versionReader(m).parquet(files)` plus the EXISTS_DEFAULT fill
    * (`ALTER TABLE ... ADD COLUMN ... DEFAULT`): files lacking the
    * column PHYSICALLY (written before the ALTER) read the recorded
    * default; files carrying it read stored values, explicit nulls
    * included. Presence classification reads [[FileStats.entries]] —
    * the sidecar, or one footer for a file it lacks (legacy commits). */
  private def boundParquet(spark: SparkSession, m: Manifest, files: Seq[String]): DataFrame = {
    val reader = versionReader(spark, m)
    val defs = ColumnMapping.existsDefaults(m)
    if (defs.isEmpty || files.isEmpty) return reader.parquet(files: _*)
    val stats = FileStats.entries(spark, m, files).entries
    // A file "carries" a defaulted column when it holds the logical
    // name OR any rename alias of it (ADD COLUMN c DEFAULT, inserts,
    // then RENAME c TO c2: the values live under the OLD physical
    // name — classifying by the logical name alone would fill the
    // frozen default over real stored data). Mirrors the scan path's
    // per-file physical binding.
    def carries(have: Set[String], n: String): Boolean =
      have(n) || m.renames.collectFirst { case (l, as) if l == n => as }
        .exists(_.exists(have))
    val groups: Map[Set[String], Seq[String]] = files.groupBy { f =>
      val have = stats(f).fields
      defs.collect { case (n, _, _) if !carries(have, n) => n }.toSet
    }
    groups.map { case (missing, fs2) =>
      var d = reader.parquet(fs2: _*)
      defs.foreach { case (n, sql, dt) =>
        if (missing(n))
          d = d.withColumn(n, org.apache.spark.sql.functions.expr(sql).cast(dt))
      }
      d
    }.reduce(_.unionByName(_,
      allowMissingColumns = m.mixedSchema || m.renames.nonEmpty))
  }

  /** The parquet reader a manifest's files need:
    *  - a WIDENED table reads under the pinned explicit schema
    *    (physical-union spelling — by-name binding upcasts narrow
    *    generations natively, null-fills absent spellings; footer
    *    merge would refuse INT32 vs INT64);
    *  - a renamed or schema-evolved table merges footers (renamed
    *    columns live under DIFFERENT physical names per generation —
    *    the merge exposes them all, the mapping folds them);
    *  - otherwise the plain reader. */
  private def versionReader(spark: SparkSession, m: Manifest) =
    ColumnMapping.pinnedSchema(m) match {
      case Some(logical) =>
        spark.read.schema(ColumnMapping.physicalReadSchema(logical, m))
      case None if m.mixedSchema || m.renames.nonEmpty =>
        spark.read.option("mergeSchema", "true")
      case None => spark.read
    }

  /** Evolution-aware RAW read of a manifest's files: the logical
    * schema with per-file physical binding (rename aliases folded,
    * widened generations upcast under the pinned declared schema), NO
    * deletion vectors applied. The sidecar builders (bloom index, NDV
    * analyze) read through this — a footer-bound read after a RENAME
    * nulls the old generation's values and an index built from those
    * nulls wrongly excludes old files from lookups they should answer,
    * and after a WIDEN the footer merge refuses INT32 vs INT64
    * outright. `fileNameCol`, when set, carries `input_file_name()`
    * through the mapping so per-file builders keep file identity. */
  def readFilesRaw(spark: SparkSession, m: Manifest, files: Seq[String],
      fileNameCol: Option[String] = None): DataFrame = {
    val base = boundParquet(spark, m, files)
    val withFile = fileNameCol.map { c =>
      require(!base.schema.fieldNames.contains(c),
        s"readFilesRaw: file-name column '$c' collides with a data column")
      base.withColumn(c, org.apache.spark.sql.functions.input_file_name())
    }.getOrElse(base)
    ColumnMapping.applyToFrame(withFile, m)
  }

  /** Read a SUBSET of a manifest's data files with exactly the DVs
    * that cover each file applied. DVs apply per FILE SCOPE: the files
    * group into classes by which DVs cover them (ONE class — the
    * legacy whole-table anti join — unless appends interleaved with
    * deletes), each class anti-joins against only its own DVs, and the
    * classes union. An appended file sits in a class no earlier DV
    * touches, so its re-appended keys survive. Also the read half of
    * partial DV materialization (DV-safe incremental compaction reads
    * its merge set through this). */
  def readFilesWithDvs(spark: SparkSession, m: Manifest, files: Seq[String]): DataFrame = {
    if (m.deletes.isEmpty) boundParquet(spark, m, files)
    else dvClasses(spark, m, files).map { case (dvIdx, fs2) =>
      val base = boundParquet(spark, m, fs2)
      if (dvIdx.isEmpty) base
      else {
        val dvs = spark.read.parquet(dvIdx.map(m.deletes): _*)
          .select(m.keyCols.map(org.apache.spark.sql.functions.col): _*).distinct()
        base.join(broadcast(dvs), m.keyCols, "left_anti")
      }
    }.reduce((a, b) =>
      a.unionByName(b, allowMissingColumns = m.mixedSchema || m.renames.nonEmpty))
  }

  /** The logical schema a writer pins into its manifest (`schemajson=`,
    * nullability relaxed like any parquet read): planning resolves the
    * table schema from the manifest with ZERO footer reads — at 10⁵
    * files the footer-merge alternative is a job of its own — and
    * reads bind files under the declared schema (by-name, null-filling
    * absent columns, natively upcasting widened generations). Legacy
    * manifests without the line keep the footer-union path. */
  def pinnedJson(schema: StructType): String =
    StructType(schema.fields.map(_.copy(nullable = true))).json

  /** Write `df` as the next snapshot and publish it atomically. Returns
    * the committed version number. The data write (the long part) is
    * invisible to readers; visibility flips at the marker rename.
    * Single-writer convenience: on a marker race it retries the NEXT
    * version number without rewriting the already-staged data. */
  def commit(df: DataFrame, table: String, srcV: Long = -1L,
      provenance: String = ""): Long = {
    val spark = df.sparkSession
    TableChecks.enforce(df, table) // enforced CHECKs: one pass over the new rows
    var next = currentVersion(spark, table).map(_ + 1).getOrElse(0L)
    val dataDir = s"$table/v=${next}__${token()}"
    df.write.mode("overwrite").parquet(dataDir)
    // harvest once at commit (the writer just produced these footers) so
    // query PLANNING never opens per-file footers — see [[FileStats]]
    val stats = FileStats.sidecarFor(spark, table,
      dataFiles(spark, Manifest(dataDir, Nil, Nil)), None, writerStatsExact(spark))
    while (!tryPublishManifest(spark, table, next,
        Manifest(dataDir, Nil, Nil, op = "rewrite", statsExact = writerStatsExact(spark),
          srcV = srcV, statsFile = stats, schemaJson = pinnedJson(df.schema),
          provenance = provenance)))
      next += 1 // lost a marker race; the staged data is still valid as a later version
    next
  }

  /** Commit `df` BUCKETED by `cols` into `n` buckets and record the
    * layout in the manifest — the write-once shuffle that lets every
    * later equi-join or aggregation on the bucket key plan WITHOUT an
    * exchange (storage-partitioned joins through the DSv2 connector:
    * the scan reports `KeyGroupedPartitioning(bucket(n, cols))` and two
    * co-bucketed tables zip partition-for-partition). Rows route to
    * bucket `pmod(murmur3(cols), n)` — Spark's own HashPartitioning —
    * and each write task emits one `part-<bucketId>-*` file, which is
    * how readers recover the file→bucket mapping with no extra
    * metadata. The connector's catalog exposes the SAME hash as a V2
    * `bucket` function so Spark can verify transform compatibility.
    *
    * The layout survives delete commits (data unchanged) AND appends —
    * [[appendCommit]] and the DSv2 `INSERT INTO`/streaming-sink paths
    * route each batch through the same hash before staging, so
    * incremental loads keep the co-location. MERGE and compaction drop
    * the `bucket=` tag (their rewrites don't honor the route) rather
    * than serve a stale promise; re-establish with a fresh
    * [[bucketedCommit]]. */
  def bucketedCommit(df: DataFrame, table: String, cols: Seq[String], n: Int,
      sortCols: Seq[String] = Nil): Long = {
    require(cols.nonEmpty && n > 0, s"bucketedCommit needs columns and a positive count")
    val spark = df.sparkSession
    TableChecks.enforce(df, table)
    var next = currentVersion(spark, table).map(_ + 1).getOrElse(0L)
    val dataDir = s"$table/v=${next}__${token()}"
    val routed = df.repartition(n, cols.map(org.apache.spark.sql.functions.col): _*)
    // sorted buckets: each bucket file is ordered by sortCols, recorded
    // in the manifest — the scan then reports per-partition ordering
    // and a co-bucketed sort-merge join needs NO exchange AND NO sort
    val laid =
      if (sortCols.isEmpty) routed
      else routed.sortWithinPartitions(sortCols.map(org.apache.spark.sql.functions.col): _*)
    laid.write.mode("overwrite").parquet(dataDir)
    val stats = FileStats.sidecarFor(spark, table,
      dataFiles(spark, Manifest(dataDir, Nil, Nil)), None, writerStatsExact(spark))
    while (!tryPublishManifest(spark, table, next,
        Manifest(dataDir, Nil, Nil, op = "bucket", statsExact = writerStatsExact(spark),
          statsFile = stats, bucketCols = cols, bucketN = n, sortCols = sortCols,
          schemaJson = pinnedJson(df.schema))))
      next += 1
    next
  }

  /** Recursive parquet-file listing of a staged dir — partition-routed
    * stages nest files under `__gpN=<value>` directories. */
  def listStagedFiles(spark: SparkSession, dir: String): Seq[String] = {
    val f = fs(spark, dir)
    val root = new Path(dir)
    if (!f.exists(root)) return Seq.empty
    val out = Seq.newBuilder[String]
    def walk(p: Path): Unit = f.listStatus(p).foreach { s =>
      if (s.isDirectory) walk(s.getPath)
      else if (s.getPath.getName.endsWith(".parquet")) out += s.getPath.toString
    }
    walk(root)
    out.result()
  }

  /** Commit `df` PARTITIONED by transform `spec` (identity / years /
    * months / days / hours / truncate — [[PartitionSpec]]): rows
    * cluster by the transformed value and land under hive-style
    * `__gpN=<value>` directories inside the staged version dir, while
    * the data files keep every ORIGINAL column (the derived value
    * lives only in the directory name). The manifest records the spec
    * (`part=` line); the DSv2 scan then prunes whole partitions from
    * pushed predicates BEFORE any stats sidecar or footer is
    * consulted, and retention deletes (`DELETE WHERE day < X`)
    * classify partition-aligned files exactly.
    *
    * Unlike `bucket=` (an all-files zip contract), the spec survives
    * EVERY later commit: pruning is per file, so unrouted files from
    * other writers are merely unprunable, never wrong. [[appendCommit]]
    * and the DSv2 INSERT paths route each batch into partition dirs,
    * which is the day-appended-fact shape this layout exists for. */
  def partitionedCommit(df: DataFrame, table: String, spec: Seq[PartitionSpec.PartField]): Long = {
    PartitionSpec.validate(spec, df.schema)
    val spark = df.sparkSession
    TableChecks.enforce(df, table)
    var next = currentVersion(spark, table).map(_ + 1).getOrElse(0L)
    val dataDir = s"$table/v=${next}__${token()}"
    val (routed, dirCols) = PartitionSpec.withRoutingColumns(df, spec)
    // cluster rows so each partition value lands in few tasks — the
    // write-once shuffle that keeps file counts O(partitions), not
    // O(partitions × tasks)
    routed.repartition(dirCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("overwrite").partitionBy(dirCols: _*).parquet(dataDir)
    val staged = listStagedFiles(spark, dataDir)
    // an all-empty frame stages no files; seed one schema-bearing file
    // so the manifest has something for readers to resolve (bare
    // CREATE TABLE PARTITIONED BY births this way)
    val files =
      if (staged.nonEmpty) staged
      else {
        df.limit(0).write.mode("overwrite").parquet(dataDir)
        dataFiles(spark, Manifest(dataDir, Nil, Nil))
      }
    val stats = FileStats.sidecarFor(spark, table, files, None, writerStatsExact(spark))
    while (!tryPublishManifest(spark, table, next,
        Manifest("", Nil, Nil, files = files, op = "partition",
          statsExact = writerStatsExact(spark), statsFile = stats, partSpec = spec,
          schemaJson = pinnedJson(df.schema))))
      next += 1
    next
  }

  /** PARTITION SPEC EVOLUTION (Iceberg-style, round-14): switch the
    * table's partition spec for FUTURE writes in one metadata-only
    * commit — zero data movement. Existing files keep pruning under
    * the spec that wrote them: the old (generation, spec) pairs ride
    * the manifest's `parthist=` lines, every generation routes into
    * generation-TAGGED directory names (`__g<gen>pN=`), and the scan
    * derives each file's facts from exactly its own generation — no
    * cross-generation parse ambiguity is possible. New appends route
    * under the new spec; a full compaction re-routes everything and
    * drops the history. The day-appended 100 TB fact can move from
    * `months(ts)` to `days(ts)` mid-life without rewriting a byte. */
  def evolvePartitionSpec(
      spark: SparkSession, table: String, newSpec: Seq[PartitionSpec.PartField]): Long = {
    val cur = currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $table"))
    val m = manifest(spark, table, cur)
    PartitionSpec.validate(newSpec, read(spark, table).schema)
    require(m.partSpec != newSpec,
      s"evolvePartitionSpec: $table already partitions by ${PartitionSpec.render(newSpec)}")
    val hist =
      if (m.partSpec.isEmpty) m.partHist // unpartitioned → first spec: no history entry
      else m.partHist :+ (m.partGen, m.partSpec)
    val next = cur + 1
    if (!tryPublishManifest(spark, table, next,
        m.copy(ts = 0L, op = "evolve-spec", srcV = -1L,
          partSpec = newSpec, partGen = m.partGen + 1, partHist = hist)))
      throw new java.util.ConcurrentModificationException(
        s"evolvePartitionSpec lost the CAS race on $table v$next — re-run against the new head")
    next
  }

  /** Commit `df` RANGE-CLUSTERED and SORTED by `cols` into `n` files,
    * recording the sort in the manifest. Every file holds a disjoint
    * key range (min/max stats and runtime join filters prune hard) and
    * every row-group partition the scan hands out is internally ordered
    * — the scan reports it via `SupportsReportOrdering`, so downstream
    * sort-consuming operators skip their sort where Spark's rules
    * allow. The ascending-nulls-first order matches what the scan
    * reports; appends and rewrites DROP the `sortcols=` tag (their rows
    * don't honor it), delete commits carry it (row filters preserve
    * order). */
  def sortedCommit(df: DataFrame, table: String, cols: Seq[String], n: Int): Long = {
    require(cols.nonEmpty && n > 0, s"sortedCommit needs columns and a positive count")
    val spark = df.sparkSession
    var next = currentVersion(spark, table).map(_ + 1).getOrElse(0L)
    val dataDir = s"$table/v=${next}__${token()}"
    df.repartitionByRange(n, cols.map(org.apache.spark.sql.functions.col): _*)
      .sortWithinPartitions(cols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("overwrite").parquet(dataDir)
    val stats = FileStats.sidecarFor(spark, table,
      dataFiles(spark, Manifest(dataDir, Nil, Nil)), None, writerStatsExact(spark))
    while (!tryPublishManifest(spark, table, next,
        Manifest(dataDir, Nil, Nil, op = "sort", statsExact = writerStatsExact(spark),
          statsFile = stats, sortCols = cols, schemaJson = pinnedJson(df.schema))))
      next += 1
    next
  }

  /** O(new-files) APPEND: stage `df` as fresh part files and publish a
    * FILE-GRANULAR manifest listing the predecessor's files plus the
    * staged ones. No existing byte moves or is re-read — the commit
    * cost is the new data plus one marker rename, which is what makes
    * incremental daily loads (the reference's own Silver append,
    * `bronze_to_silver.py:116`) viable at 100 TB. CAS multi-writer
    * safe: a lost race re-reads the NEW current manifest and re-links
    * the already-staged files against it (staged bytes written once).
    *
    * Refused while deletion vectors are live: the store's DVs are
    * KEY-based and table-wide, so an append re-inserting a deleted key
    * would be silently suppressed — compact first (any full rewrite
    * materializes DVs away), then append. */
  def appendCommit(df: DataFrame, table: String, maxAttempts: Int = 8): Long = {
    val spark = df.sparkSession
    TableChecks.enforce(df, table) // enforced CHECKs: one pass over the appended rows only
    // schema check BEFORE staging: identical schemas append plainly;
    // UNION-COMPATIBLE drift (added/omitted columns, shared columns
    // type-equal) is real schema EVOLUTION — allowed, and the manifest
    // records `schema=mixed` so every reader resolves the union schema
    // (mergeSchema) from then on; a TYPE CONFLICT on a shared column is
    // refused with rewrite guidance (no union schema exists)
    val headV = currentVersion(spark, table)
    val baseSchema: Option[StructType] = headV.map(v => readVersion(spark, table, v).schema)
    val evolving = baseSchema.exists { base =>
      val baseMap = base.fields.map(f => f.name -> f.dataType).toMap
      val gotMap = df.schema.fields.map(f => f.name -> f.dataType).toMap
      val conflicts = baseMap.keySet.intersect(gotMap.keySet)
        .filter(k => baseMap(k) != gotMap(k))
      require(conflicts.isEmpty,
        s"append schema mismatch on $table: column type conflict on " +
          s"${conflicts.toSeq.sorted.mkString(", ")} (table: " +
          s"${conflicts.toSeq.sorted.map(baseMap).mkString(", ")} vs batch: " +
          s"${conflicts.toSeq.sorted.map(gotMap).mkString(", ")}) — no union schema " +
          "exists; evolve through a full rewrite (SnapshotStore.commit), then append")
      baseMap != gotMap
    }
    // the post-append union schema (base fields first, added fields
    // after — mergeSchema's own order): pinned into the manifest so
    // planning keeps resolving with zero footer reads
    val unionSchema: StructType = baseSchema match {
      case Some(base) =>
        val have = base.fieldNames.toSet
        StructType(base.fields ++ df.schema.fields.filterNot(f => have(f.name)))
      case None => df.schema
    }
    // appending to a BUCKETED table routes the batch through the same
    // hash before staging, so the layout (and every storage-partitioned
    // join against it) survives incremental loads. Head resolved ONCE —
    // each _commits listing is a driver round-trip on the hot
    // incremental-load path
    val head = headV
    val headM = head.map(v => manifest(spark, table, v))
    val spec = headM.filter(_.bucketN > 0).map(m => (m.bucketCols, m.bucketN))
    spec.foreach { case (cols, _) =>
      val missing = cols.filterNot(c =>
        df.schema.fieldNames.exists(_.equalsIgnoreCase(c)))
      if (missing.nonEmpty) throw new UnsupportedOperationException(
        s"append to BUCKETED table $table refused: the batch omits bucket column(s) " +
          s"${missing.mkString(", ")}, so its rows cannot be routed to their buckets — " +
          "include the column(s) (nulls route consistently), or drop the layout first " +
          "with a plain rewrite (SnapshotStore.commit)")
    }
    val routed = spec match {
      case Some((cols, n)) =>
        df.repartition(n, cols.map(org.apache.spark.sql.functions.col): _*)
      case None => df
    }
    val stageDir = s"$table/v=${head.map(_ + 1).getOrElse(0L)}__${token()}"
    // appending to a PARTITIONED table routes the batch into its
    // partition directories — the day-appended fact keeps pruning for
    // every incremental load. A batch omitting a partition source
    // column stages unrouted (its files are merely unprunable), the
    // same conservative contract as any foreign writer.
    val partSpec = headM.map(_.partSpec).getOrElse(Nil)
    val staged =
      if (partSpec.nonEmpty && partSpec.forall(f => df.schema.fieldNames.contains(f.col))) {
        val (withCols, dirCols) = PartitionSpec.withRoutingColumns(routed, partSpec,
          headM.map(_.partGen).getOrElse(0))
        withCols
          .sortWithinPartitions(dirCols.map(org.apache.spark.sql.functions.col): _*)
          .write.mode("overwrite").partitionBy(dirCols: _*).parquet(stageDir)
        listStagedFiles(spark, stageDir)
      } else {
        routed.write.mode("overwrite").parquet(stageDir)
        dataFiles(spark, Manifest(stageDir, Nil, Nil))
      }
    appendFilesCommit(spark, table, staged, writerStatsExact(spark), maxAttempts,
      mixedSchema = evolving, routedBucket = spec,
      stagedSchema = Some(unionSchema))
  }

  /** Low-level shared append publish: CAS-link the current head's files
    * plus `stagedFiles` as the next version. ONE home for the append
    * protocol (DV refusal, base resolution, statsExact chaining, CAS
    * retry) — [[appendCommit]], the DSv2 `INSERT INTO` path and the
    * streaming sink all route here. */
  def appendFilesCommit(
      spark: SparkSession,
      table: String,
      stagedFiles: Seq[String],
      stagedExact: Boolean,
      maxAttempts: Int = 8,
      srcV: Long = -1L,
      mixedSchema: Boolean = false,
      routedBucket: Option[(Seq[String], Int)] = None,
      /** The POST-APPEND logical schema when the caller knows it (the
        * df append path passes the base∪batch union) — pinned into the
        * manifest so planning resolves with zero footer reads. Absent
        * (file-level callers: DSv2 INSERT, the streaming sink), the
        * head's pinned schema carries forward verbatim. */
      stagedSchema: Option[StructType] = None): Long = {
    var attempt = 0
    while (attempt < maxAttempts) {
      val (next, base, m0) = currentVersion(spark, table) match {
        case Some(v) =>
          val m = manifest(spark, table, v)
          // scoped DVs coexist with appends: each DV covers only the
          // files that existed at its delete commit, so the staged
          // files are outside every live scope and re-appended keys
          // survive. Only LEGACY unscoped DVs (table-wide) still block.
          val unscoped = unscopedDvs(spark, m)
          if (unscoped.nonEmpty) throw new UnsupportedOperationException(
            s"append to $table refused: legacy deletion vector(s) without a file " +
              s"scope (${unscoped.mkString(", ")}) apply table-wide, so appended " +
              "rows with previously deleted keys would be suppressed — run a " +
              "compacting rewrite (materializes DVs away) first")
          (v + 1, dataFiles(spark, m), Some(m))
        case None => (0L, Seq.empty[String], None)
      }
      // O(new-files) sidecar too: inherited files' stats copy forward
      // from the predecessor's sidecar at the text level; only the
      // staged files' footers are read (CAS loser's sidecar orphans →
      // vacuum collects it like a defeated staged dir)
      val stats = FileStats.sidecarFor(spark, table, base ++ stagedFiles, m0, stagedExact)
      // a bucketed layout survives the append ONLY when the caller
      // routed the staged rows with the head's EXACT spec (a concurrent
      // re-bucketing between route and commit drops the tag instead of
      // claiming a co-location the staged files don't honor)
      val keptSpec = routedBucket.filter(spec =>
        m0.exists(m => m.bucketN == spec._2 && m.bucketCols == spec._1))
      if (tryPublishManifest(spark, table, next,
          Manifest("", m0.map(_.deletes).getOrElse(Nil), m0.map(_.keyCols).getOrElse(Nil),
            files = base ++ stagedFiles, op = "append",
            statsExact = m0.forall(_.statsExact) && stagedExact, srcV = srcV,
            mixedSchema = mixedSchema || m0.exists(_.mixedSchema), // sticky once evolved
            statsFile = stats,
            bucketCols = keptSpec.map(_._1).getOrElse(Nil),
            bucketN = keptSpec.map(_._2).getOrElse(0),
            // bloom index is FILE-keyed: inherited files keep their
            // entries, staged files simply have none (no skip, no lie)
            bloomFile = m0.map(_.bloomFile).getOrElse(""),
            // partition spec is per-FILE metadata (unrouted staged
            // files are just unprunable) — always carries forward,
            // with its generation and the older generations' specs
            partSpec = m0.map(_.partSpec).getOrElse(Nil),
            partGen = m0.map(_.partGen).getOrElse(0),
            partHist = m0.map(_.partHist).getOrElse(Nil),
            // column mapping: inherited files keep their physical
            // names, staged files carry the logical ones — both
            // resolve through the carried mapping
            renames = m0.map(_.renames).getOrElse(Nil),
            droppedCols = m0.map(_.droppedCols).getOrElse(Nil),
            // type widening carries; the pinned logical schema is the
            // caller's post-append union when it knows one (the df
            // append path), else it carries forward (DSv2 INSERT and
            // the streaming sink write the table schema verbatim)
            widens = m0.map(_.widens).getOrElse(Nil),
            schemaJson = stagedSchema.map(pinnedJson)
              .orElse(m0.map(_.schemaJson).filter(_.nonEmpty)).getOrElse(""),
            // NDV sketches are file-keyed like the bloom index:
            // inherited files keep their entries, staged files have
            // none (their distincts are simply not counted yet)
            ndvFile = m0.map(_.ndvFile).getOrElse(""))))
        return next
      attempt += 1 // CAS lost: re-link the SAME staged files against the new head
    }
    throw new IllegalStateException(s"appendFilesCommit lost $maxAttempts CAS races on $table")
  }

  /** Low-level shared rewrite publish: CAS the given file list as the
    * next version (DSv2 `INSERT OVERWRITE`, RTAS). */
  def rewriteFilesCommit(
      spark: SparkSession,
      table: String,
      files: Seq[String],
      statsExact: Boolean,
      op: String = "rewrite",
      srcV: Long = -1L,
      bucketCols: Seq[String] = Nil,
      bucketN: Int = 0,
      partSpec: Seq[PartitionSpec.PartField] = Nil,
      partGen: Int = 0,
      partHist: Seq[(Int, Seq[PartitionSpec.PartField])] = Nil,
      schema: Option[StructType] = None): Long = {
    var next = currentVersion(spark, table).map(_ + 1).getOrElse(0L)
    // copy-forward-aware: a caller whose file list keeps most of the
    // head's files (copy-on-write shapes) only pays footers for the new
    // ones; a full overwrite simply inherits nothing
    val pred = currentVersion(spark, table).map(v => manifest(spark, table, v))
    val stats = FileStats.sidecarFor(spark, table, files, pred, statsExact)
    while (!tryPublishManifest(spark, table, next,
        Manifest("", Nil, Nil, files = files, op = op, statsExact = statsExact, srcV = srcV,
          statsFile = stats, bucketCols = bucketCols, bucketN = bucketN,
          partSpec = partSpec, partGen = partGen, partHist = partHist,
          schemaJson = schema.map(pinnedJson).getOrElse(""))))
      next += 1 // staged data stays valid as a later version
    next
  }

  /** Partition-scoped dynamic `INSERT OVERWRITE` (round 15): replace
    * exactly the partitions the staged batch touches — ONE manifest
    * publishing (head files − files in touched partition directories)
    * + the staged routed files. The restatement workflow ("re-load one
    * day of a days-partitioned fact") that a full truncate would turn
    * into silent data loss.
    *
    * Sound-or-refuse throughout: every staged file must be fully
    * routed under the CURRENT spec generation (the write path
    * guarantees this when the batch carries all source columns), and
    * every surviving head file must be classifiable under that same
    * generation — mixed spec generations or unrouted legacy files make
    * "partition" ambiguous, so the commit refuses loudly (compact —
    * a full rewrite re-routes everything — then restate) instead of
    * guessing. Partition identity is RAW directory-value equality
    * ([[PartitionSpec.tupleOf]]): no parsing, no transform math. */
  def dynamicOverwriteCommit(
      spark: SparkSession,
      table: String,
      stagedFiles: Seq[String],
      partSpec: Seq[PartitionSpec.PartField],
      partGen: Int,
      stagedExact: Boolean,
      maxAttempts: Int = 8): Long = {
    require(partSpec.nonEmpty, "dynamicOverwriteCommit needs a partition spec")
    var attempt = 0
    while (attempt < maxAttempts) {
      val v = currentVersion(spark, table).getOrElse(throw new IllegalStateException(
        s"no committed snapshot under $table"))
      val m = manifest(spark, table, v)
      // a concurrent spec evolution between write planning and commit
      // changes what "partition" means — refuse, the writer re-plans
      require(m.partSpec == partSpec && m.partGen == partGen,
        s"dynamic INSERT OVERWRITE on $table: the partition spec changed under the " +
          "write (concurrent evolve_partition_spec) — re-run the statement")
      require(m.partHist.isEmpty,
        s"dynamic INSERT OVERWRITE on $table refused: the table mixes partition-spec " +
          "generations (evolve_partition_spec without a rewrite), so old-generation " +
          "files cannot be classified against current-spec partitions — compact " +
          "(full rewrite) first")
      require(m.deletes.isEmpty,
        s"dynamic INSERT OVERWRITE on $table refused: live deletion vectors scope to " +
          "the current file set — compact (materializes DVs away) first")
      val touched: Set[Seq[String]] = stagedFiles.map { f =>
        PartitionSpec.tupleOf(f, partSpec, partGen).getOrElse(
          throw new IllegalStateException(
            s"dynamic INSERT OVERWRITE on $table: staged file $f is not routed under " +
              "the current partition spec (batch missing a source column?) — dynamic " +
              "overwrite refuses rather than replace the whole table"))
      }.toSet
      val headFiles = dataFiles(spark, m)
      val classified = headFiles.map { f =>
        f -> PartitionSpec.tupleOf(f, partSpec, m.partGen).getOrElse(
          throw new UnsupportedOperationException(
            s"dynamic INSERT OVERWRITE on $table refused: existing file $f carries no " +
              "partition directories under the current spec (written before the layout, " +
              "or by a foreign writer) — its partition is unknowable, compact first"))
      }
      val kept = classified.collect { case (f, t) if !touched.contains(t) => f }
      val stats = FileStats.sidecarFor(spark, table, kept ++ stagedFiles, Some(m), stagedExact)
      if (tryPublishManifest(spark, table, v + 1,
          Manifest("", Nil, Nil,
            files = kept ++ stagedFiles, op = "dynamic-overwrite",
            statsExact = m.statsExact && stagedExact,
            statsFile = stats,
            // file-keyed sidecars carry forward: kept files keep their
            // bloom/NDV entries, dropped files' entries simply orphan
            // (never consulted — the scan iterates manifest files)
            bloomFile = m.bloomFile,
            ndvFile = m.ndvFile,
            bucketCols = m.bucketCols, bucketN = m.bucketN,
            partSpec = m.partSpec, partGen = m.partGen, partHist = m.partHist,
            renames = m.renames, droppedCols = m.droppedCols,
            widens = m.widens, mixedSchema = m.mixedSchema,
            schemaJson = m.schemaJson)))
        return v + 1
      attempt += 1 // CAS lost: reclassify against the new head, same staged files
    }
    throw new IllegalStateException(s"dynamicOverwriteCommit lost $maxAttempts CAS races on $table")
  }

  /** Publish the marker for a version whose data dir was written by the
    * caller at the fixed `v=<N>` path (lets multi-step single-writer
    * maintenance jobs stage data their own way). Throws on a marker
    * conflict — those callers assume exclusive ownership of the table. */
  def publishMarker(spark: SparkSession, table: String, v: Long): Unit =
    if (!tryPublishManifest(spark, table, v, Manifest(versionDir(table, v), Nil, Nil)))
      throw new IllegalStateException(s"could not publish commit marker $v under $table")

  /** CAS primitive: atomically publish version `v`'s manifest marker,
    * returning false if some other writer already owns version `v`.
    * Content is staged to a temp file, then renamed with
    * `Options.Rename.NONE` (no overwrite) — on HDFS that rename is
    * atomic, so exactly one concurrent writer wins; the marker is never
    * visible with partial content. */
  def tryPublishManifest(spark: SparkSession, table: String, v: Long, m: Manifest): Boolean = {
    require(m.data.nonEmpty || m.files.nonEmpty,
      s"refusing to publish an EMPTY manifest for $table v$v: a version with no " +
        "data dir and no file actions has nothing for readers to resolve")
    val f = fs(spark, table)
    val dir = new Path(commitsDir(table))
    f.mkdirs(dir)
    val tmp = new Path(dir, s".tmp_${v}_${token()}")
    val ts = if (m.ts > 0L) m.ts else System.currentTimeMillis()
    val content = new StringBuilder()
    if (m.data.nonEmpty) content.append(s"data=${m.data}\n")
    m.files.foreach(p => content.append(s"file=$p\n"))
    m.deletes.foreach(d => content.append(s"delete=$d\n"))
    if (m.keyCols.nonEmpty) content.append(s"keys=${m.keyCols.mkString(",")}\n")
    if (m.op.nonEmpty) content.append(s"op=${m.op}\n")
    if (m.statsExact) content.append("stats=exact\n")
    if (m.mixedSchema) content.append("schema=mixed\n")
    if (m.srcV >= 0L) content.append(s"src=${m.srcV}\n")
    if (m.statsFile.nonEmpty) content.append(s"statsfile=${m.statsFile}\n")
    if (m.bucketN > 0) content.append(s"bucket=${m.bucketCols.mkString(",")}:${m.bucketN}\n")
    if (m.bloomFile.nonEmpty) content.append(s"bloomfile=${m.bloomFile}\n")
    if (m.sortCols.nonEmpty) content.append(s"sortcols=${m.sortCols.mkString(",")}\n")
    if (m.partSpec.nonEmpty) content.append(s"part=${PartitionSpec.render(m.partSpec)}\n")
    if (m.ndvFile.nonEmpty) content.append(s"ndvfile=${m.ndvFile}\n")
    if (m.provenance.nonEmpty) content.append(s"provenance=${m.provenance}\n")
    if (m.partGen != 0) content.append(s"partgen=${m.partGen}\n")
    m.partHist.foreach { case (g, sp) =>
      content.append(s"parthist=$g:${PartitionSpec.render(sp)}\n") }
    m.renames.foreach { case (l, as) =>
      content.append(s"rename=$l:${as.mkString(",")}\n") }
    if (m.droppedCols.nonEmpty)
      content.append(s"dropcols=${m.droppedCols.mkString(",")}\n")
    m.widens.foreach { case (c, t) => content.append(s"widen=$c:$t\n") }
    if (m.schemaJson.nonEmpty) content.append(s"schemajson=${m.schemaJson}\n")
    if (m.rowChanges.nonEmpty) content.append(s"rowchanges=${m.rowChanges}\n")
    content.append(s"ts=$ts\n")
    val out = f.create(tmp, true)
    try out.write(content.toString.getBytes("UTF-8"))
    finally out.close()
    val fc = FileContext.getFileContext(new Path(table).toUri, spark.sparkContext.hadoopConfiguration)
    try {
      fc.rename(tmp, new Path(dir, v.toString), Options.Rename.NONE)
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        f.delete(tmp, false); false
      case _: java.io.FileNotFoundException => // some local-fs impls report dst-exists this way
        f.delete(tmp, false); false
      case e: java.io.IOException if e.getMessage != null && e.getMessage.contains("already exists") =>
        f.delete(tmp, false); false
    }
  }

  /** Optimistic multi-writer commit: derive the next snapshot from the
    * current one with `fn` (None on an empty table), stage it under a
    * writer-unique dir, and CAS the marker. On conflict — some other
    * writer committed first — drop the staged data, re-read the NEW
    * current snapshot, and re-derive (rebase-and-retry). Lost updates
    * are impossible: every committed version's content was derived from
    * its direct predecessor. */
  def commitTransform(
      spark: SparkSession,
      table: String,
      fn: Option[DataFrame] => DataFrame,
      maxAttempts: Int = 8): Long = {
    var attempt = 0
    while (attempt < maxAttempts) {
      val base = currentVersion(spark, table)
      val df = fn(base.map(v => readVersion(spark, table, v)))
      val next = base.map(_ + 1).getOrElse(0L)
      val dataDir = s"$table/v=${next}__${token()}"
      df.write.mode("overwrite").parquet(dataDir)
      val stats = FileStats.sidecarFor(spark, table,
        dataFiles(spark, Manifest(dataDir, Nil, Nil)), None, writerStatsExact(spark))
      if (tryPublishManifest(spark, table, next,
          Manifest(dataDir, Nil, Nil, op = "rewrite", statsExact = writerStatsExact(spark),
            statsFile = stats))) return next
      fs(spark, table).delete(new Path(dataDir), true)
      fs(spark, table).delete(new Path(stats), false)
      attempt += 1
    }
    throw new IllegalStateException(s"commitTransform lost $maxAttempts CAS races on $table")
  }

  /** Merge-on-read delete: commit a new version that REUSES the current
    * data directory and adds a deletion-vector file holding the keys of
    * live rows matching `cond`. O(deleted keys) written, not O(table).
    * Successive delete commits accumulate DV files; any full rewrite
    * materializes them away. CAS + recompute on writer conflict. */
  def deleteCommit(
      spark: SparkSession,
      table: String,
      keyCols: Seq[String],
      cond: Column,
      maxAttempts: Int = 8): Long = {
    require(keyCols.nonEmpty, "deleteCommit needs at least one key column")
    var attempt = 0
    while (attempt < maxAttempts) {
      val cur = currentVersion(spark, table)
        .getOrElse(throw new IllegalStateException(s"no committed snapshot under $table"))
      val m = manifest(spark, table, cur)
      require(
        m.deletes.isEmpty || m.keyCols == keyCols,
        s"delete key columns $keyCols differ from the table's existing DV keys ${m.keyCols}")
      val dv = s"${deletesDir(table)}/d_${token()}"
      readVersion(spark, table, cur) // live rows only: composes with prior DVs
        .where(cond)
        .select(keyCols.map(org.apache.spark.sql.functions.col): _*)
        .distinct()
        .write.mode("overwrite").parquet(dv)
      // scope = the files that exist NOW: later appends are new rows
      // this DV must not touch (what makes append+DV coexistence legal)
      writeDvScope(spark, dv, dataFiles(spark, m))
      if (tryPublishManifest(spark, table, cur + 1,
          Manifest(m.data, m.deletes :+ dv, keyCols, files = m.files, op = "delete",
            statsExact = m.statsExact, mixedSchema = m.mixedSchema,
            statsFile = m.statsFile, // data unchanged → stats carry forward
            bucketCols = m.bucketCols, bucketN = m.bucketN,
            bloomFile = m.bloomFile,
            sortCols = m.sortCols, // DV filtering preserves row order
            partSpec = m.partSpec, ndvFile = m.ndvFile,
            partGen = m.partGen, partHist = m.partHist,
            renames = m.renames, droppedCols = m.droppedCols,
            widens = m.widens, schemaJson = m.schemaJson)))
        return cur + 1
      attempt += 1 // orphan DV file is GC'd by vacuum's reference count
    }
    throw new IllegalStateException(s"deleteCommit lost $maxAttempts CAS races on $table")
  }

  /** Like [[deleteCommit]] but with an EXPLICIT key frame instead of a
    * predicate — the shape a change-feed consumer has in hand (delete
    * batches carry keys, not conditions). Keys already dead in the
    * target are harmless (DV union). */
  def deleteKeysCommit(
      spark: SparkSession,
      table: String,
      keyCols: Seq[String],
      keys: DataFrame,
      maxAttempts: Int = 8): Long = {
    require(keyCols.nonEmpty, "deleteKeysCommit needs at least one key column")
    val dv = s"${deletesDir(table)}/d_${token()}"
    keys.select(keyCols.map(org.apache.spark.sql.functions.col): _*)
      .distinct()
      .write.mode("overwrite").parquet(dv)
    var attempt = 0
    while (attempt < maxAttempts) {
      val cur = currentVersion(spark, table)
        .getOrElse(throw new IllegalStateException(s"no committed snapshot under $table"))
      val m = manifest(spark, table, cur)
      require(
        m.deletes.isEmpty || m.keyCols == keyCols,
        s"delete key columns $keyCols differ from the table's existing DV keys ${m.keyCols}")
      // scope re-derives per CAS attempt: a lost race means the file
      // set may have changed under us (e.g. a concurrent append)
      writeDvScope(spark, dv, dataFiles(spark, m))
      if (tryPublishManifest(spark, table, cur + 1,
          Manifest(m.data, m.deletes :+ dv, keyCols, files = m.files, op = "delete",
            statsExact = m.statsExact, mixedSchema = m.mixedSchema,
            statsFile = m.statsFile,
            bucketCols = m.bucketCols, bucketN = m.bucketN,
            bloomFile = m.bloomFile,
            sortCols = m.sortCols, // DV filtering preserves row order
            partSpec = m.partSpec, ndvFile = m.ndvFile,
            partGen = m.partGen, partHist = m.partHist,
            renames = m.renames, droppedCols = m.droppedCols,
            widens = m.widens, schemaJson = m.schemaJson)))
        return cur + 1
      attempt += 1
    }
    throw new IllegalStateException(s"deleteKeysCommit lost $maxAttempts CAS races on $table")
  }

  /** Timestamp time travel (`AS OF <ts>`): read the newest snapshot
    * whose commit time is ≤ `tsMillis` — the query-at-a-point-in-time
    * companion to version-number [[readVersion]]. Commit times come
    * from the markers (monotone per table because versions are
    * CAS-serialized). Throws if the table has no snapshot that old. */
  // ---- version TAGS ------------------------------------------------
  // A tag is a named, immutable pointer to a committed version
  // (`_refs/<name>`, one `v=` line, published by the same atomic
  // no-overwrite rename as commit markers). Two contracts:
  //  1. RESOLUTION: every `version` surface (reader option, catalog
  //     `VERSION AS OF`) accepts a tag name where it accepts a number.
  //  2. RETENTION: vacuum treats tagged versions as live — their
  //     manifests, data files, DVs, and sidecars survive any `keep`
  //     horizon until the tag is dropped. A tag is how "the snapshot we
  //     trained model X on" outlives a 7-day retention policy.

  private val tagNameOk = "[A-Za-z0-9][A-Za-z0-9._-]*".r

  /** Publish tag `name` → `version` (default: the current head).
    * Tags are immutable: re-pointing requires dropTag first. */
  def createTag(spark: SparkSession, table: String, name: String,
      version: Long = -1L): Long = {
    require(tagNameOk.matches(name) && name.forall(_ != '/'),
      s"tag name must match ${tagNameOk.regex}, got '$name'")
    // an all-digit name could never be READ back: resolveVersionSpec
    // parses digits as a version number first — refuse at creation
    // rather than pin an unreachable snapshot forever
    require(name.toLongOption.isEmpty,
      s"tag name '$name' parses as a version number and would shadow it — " +
        "use a non-numeric name")
    val v = if (version >= 0L) version else currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $table"))
    require(versions(spark, table).contains(v),
      s"cannot tag $table@$v: not a retained version")
    val f = fs(spark, table)
    val dir = new Path(refsDir(table))
    f.mkdirs(dir)
    val tmp = new Path(dir, s".tmp_${token()}")
    val out = f.create(tmp, true)
    try out.write(s"v=$v\nts=${System.currentTimeMillis()}\n".getBytes("UTF-8"))
    finally out.close()
    val fc = FileContext.getFileContext(new Path(table).toUri,
      spark.sparkContext.hadoopConfiguration)
    try { fc.rename(tmp, new Path(dir, name), Options.Rename.NONE); v }
    catch {
      case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
          _: java.io.FileNotFoundException) =>
        f.delete(tmp, false)
        throw new IllegalStateException(
          s"tag '$name' already exists on $table (tags are immutable — dropTag first)", e)
      case e: java.io.IOException if e.getMessage != null &&
          e.getMessage.contains("already exists") =>
        f.delete(tmp, false)
        throw new IllegalStateException(
          s"tag '$name' already exists on $table (tags are immutable — dropTag first)", e)
    }
  }

  /** Remove tag `name`; its version becomes vacuum-eligible again. */
  def dropTag(spark: SparkSession, table: String, name: String): Boolean =
    fs(spark, table).delete(new Path(refsDir(table), name), false)

  // ---- WRITABLE BRANCHES (write-audit-publish) ---------------------
  // A branch is a SELF-CONTAINED snapshot table under
  // `<table>/_branches/<name>`: its version 0 manifest is a copy of
  // main's head manifest (file paths still pointing at main's files —
  // an O(1)-metadata fork, no byte moves), and from then on EVERY
  // existing write surface works against the branch path unchanged:
  // appendCommit, MERGE/UPDATE/DELETE through the DSv2 connector,
  // deletion vectors, compaction. Main never sees branch commits until
  // [[fastForward]] publishes the branch head manifest as main's next
  // version — the write-audit-publish flow: write to the branch, run
  // the audit queries against the branch path, publish atomically (or
  // drop the branch and nothing ever happened).
  //
  // Divergence contract: fastForward requires main's head to be the
  // branch's recorded base (`src=` of branch v0) — a concurrent main
  // commit refuses the publish loudly (re-branch from the new head)
  // rather than silently dropping it, the same head-pin discipline as
  // the row-level commands. Tags are untouched: they stay immutable
  // read pins in `_refs/`.

  private def branchesDir(table: String) = s"$table/_branches"

  /** The branch's table root — pass it to ANY read/write surface. */
  def branchRoot(table: String, name: String): String = {
    require(tagNameOk.matches(name) && name.forall(_ != '/'),
      s"branch name must match ${tagNameOk.regex}, got '$name'")
    s"${branchesDir(table)}/$name"
  }

  /** Fork a branch at main's head (O(1) metadata). Returns the branch
    * root path. */
  def createBranch(spark: SparkSession, table: String, name: String): String = {
    val br = branchRoot(table, name)
    require(versions(spark, br).isEmpty && !fs(spark, table).exists(new Path(br)),
      s"branch '$name' already exists on $table (dropBranch first)")
    val base = currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $table"))
    val m = manifest(spark, table, base)
    // file-granular fork: resolve dir-granular legacy manifests to an
    // explicit file list so the branch head never depends on main's
    // data-dir LISTING (main may append into new dirs later)
    val files = dataFiles(spark, m)
    if (!tryPublishManifest(spark, br, 0L,
        m.copy(data = "", files = files, op = "branch", srcV = base, ts = 0L)))
      throw new IllegalStateException(s"branch '$name' lost a concurrent-create race on $table")
    // branches INHERIT main's CHECK constraints (round 15): branch
    // writes then enforce exactly what main enforces — without the
    // copy, write-audit-publish could fast-forward rows no
    // CheckInvariant ever saw ([[fastForward]] re-validates as the
    // last line of defense)
    TableChecks.copyTo(spark, table, br)
    br
  }

  /** Branches of `table`: name → (branch head version, main base). */
  def branches(spark: SparkSession, table: String): Map[String, (Long, Long)] = {
    val f = fs(spark, table)
    val dir = new Path(branchesDir(table))
    if (!f.exists(dir)) return Map.empty
    f.listStatus(dir).toSeq.filter(_.isDirectory).flatMap { s =>
      val br = s.getPath.toString
      versions(spark, br).lastOption.map { head =>
        s.getPath.getName -> (head, manifest(spark, br, 0L).srcV)
      }
    }.toMap
  }

  /** PUBLISH: fast-forward main to the branch head — one atomic marker
    * rename, zero data movement (the published manifest references the
    * branch's staged files in place). Refuses if main moved past the
    * branch base (divergence) — re-branch from the new head and replay.
    * Returns main's new version. The branch stays intact (drop it when
    * done; [[dropBranch]] guards against dropping published files). */
  def fastForward(spark: SparkSession, table: String, name: String): Long = {
    val br = branchRoot(table, name)
    val headBr = currentVersion(spark, br).getOrElse(
      throw new IllegalArgumentException(s"no branch '$name' under $table"))
    val base = manifest(spark, br, 0L).srcV
    val mainHead0 = currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $table"))
    if (headBr == 0L) return mainHead0 // nothing committed on the branch: no-op
    val bm = manifest(spark, br, headBr)
    // CHECK constraints are table-level metadata, NOT commits: a
    // constraint added on main mid-branch passes the moved-main guard
    // above (no version bump), and a pre-copy branch (or one whose
    // _constraints drifted) may hold rows main's enforced CHECKs never
    // saw. Validate every enforced main check the branch did not
    // itself enforce — one scan per missing check, the last line of
    // defense before unvalidated rows become main's head.
    // only the branch's ENFORCED copy counts: a constraint dropped and
    // re-added NOT ENFORCED on the branch has the same name+predicate
    // but validated nothing — its rows still need the scan here
    val branchChecks = TableChecks.read(spark, br).filter(_.enforced)
      .map(c => (c.name.toLowerCase, c.predicateSql)).toSet
    TableChecks.read(spark, table).filter(_.enforced)
      .filterNot(c => branchChecks.contains((c.name.toLowerCase, c.predicateSql)))
      .foreach { c =>
        val bad = readVersion(spark, br, headBr)
          .filter(!org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.expr(c.predicateSql),
            org.apache.spark.sql.functions.lit(true)))
          .limit(1).count()
        require(bad == 0L,
          s"fastForward('$name') refused: branch rows violate $table's enforced CHECK " +
            s"constraint '${c.name}' (${c.predicateSql}) — the constraint was not " +
            "active on the branch; fix the branch data or drop the constraint")
      }
    // srcV = -1, NEVER the branch-local head: main-head srcV doubles as
    // the streaming sink's exactly-once epoch guard and the MV refresh
    // cursor — a published branch version number would
    // masquerade as an applied epoch/source version and replay or skip
    // commits. Branch provenance rides a dedicated marker key instead.
    //
    // PUBLISH loop (round 16): when main is still at the fork base the
    // branch head publishes verbatim; when main has MOVED, the publish
    // REBASES instead of refusing, provided the two sides' changes are
    // file-disjoint ([[rebasedManifest]] decides from the file-granular
    // manifests; overlap still refuses with the audit-afresh message).
    // A lost CAS re-derives — the next attempt sees the new head and
    // rebases over it.
    var attempt = 0
    while (attempt < 8) {
      val mainHead = currentVersion(spark, table).getOrElse(
        throw new IllegalStateException(s"no committed snapshot under $table"))
      val publish =
        if (mainHead == base)
          // rowChanges cleared: a branch-head change sidecar diffs
          // against the BRANCH's predecessor, not main's — stale for
          // any feed reading main unless the branch had exactly one
          // commit (not worth distinguishing; the cow fallback is sound)
          bm.copy(ts = 0L, op = "publish", srcV = -1L,
            provenance = s"branch:$name@$headBr", rowChanges = "")
        else
          rebasedManifest(spark, table, name, base, bm, headBr, mainHead)
      if (tryPublishManifest(spark, table, mainHead + 1, publish))
        return mainHead + 1
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"fastForward('$name') lost 8 publish races on $table")
  }

  /** REBASE a branch head onto a main that moved past the fork: legal
    * exactly when the two sides' changes are FILE-DISJOINT, which the
    * file-granular manifests make decidable with zero data reads —
    *
    *   result files = (main head files − files the branch removed)
    *                  ∪ files the branch added
    *
    * A file REWRITTEN (removed) by both sides means both touched the
    * same rows — refused, audit against a fresh branch. Metadata
    * (schema pin, renames, drops, widens, partition spec) three-way
    * merges per field: the side that changed it wins, BOTH-changed
    * refuses. DV changes on either side refuse outright: a main-side
    * DV scoped to a file the branch rewrote (or vice versa) is a
    * row-level overlap no file-set comparison can see. Layout claims
    * (bucket/sort) survive only when both heads agree on them.
    * Stats sidecar: main-head entries inherit at the text level, only
    * the branch-ADDED files' footers are harvested — O(branch delta),
    * same bound as the commit that staged them. */
  private def rebasedManifest(
      spark: SparkSession,
      table: String,
      name: String,
      base: Long,
      bm: Manifest,
      headBr: Long,
      mainHead: Long): Manifest = {
    val baseM = manifest(spark, table, base)
    def refuse(why: String): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"fastForward('$name') refused: $table moved to version $mainHead since the " +
          s"branch forked at $base and $why — audit against a fresh branch of the new head")
    val mainM = manifest(spark, table, mainHead)
    // DV changes are row-granular — file-set disjointness cannot prove
    // them independent (a main DV scoped to a file the branch rewrote
    // deletes rows the branch resurrected)
    if (bm.deletes != baseM.deletes || mainM.deletes != baseM.deletes)
      refuse("deletion vectors changed (row-granular, not file-decidable)")
    // per-field three-way merge: unchanged-on-one-side takes the other
    // side's value; changed on BOTH sides (to different values) refuses
    def merge3[T](get: Manifest => T, what: String): T = {
      val b = get(bm); val h = get(mainM); val o = get(baseM)
      if (b == o) h else if (h == o || h == b) b
      else refuse(s"$what changed on both sides")
    }
    val schemaJson = merge3(_.schemaJson, "the pinned schema")
    val renames = merge3(_.renames, "column renames")
    val dropped = merge3(_.droppedCols, "dropped columns")
    val widens = merge3(_.widens, "column widenings")
    val part = merge3(m => (m.partSpec, m.partGen, m.partHist), "the partition spec")
    val baseFiles = manifest(spark, branchRoot(table, name), 0L).files.toSet
    val brFiles = dataFiles(spark, bm).toSet
    val mainFiles = dataFiles(spark, mainM).toSet
    val branchRemoved = baseFiles -- brFiles
    val branchAdded = brFiles -- baseFiles
    val mainRemoved = baseFiles -- mainFiles
    val overlap = branchRemoved.intersect(mainRemoved)
    if (overlap.nonEmpty)
      refuse(s"both sides rewrote ${overlap.size} shared file(s) (e.g. ${overlap.head})")
    val files = ((mainFiles -- branchRemoved) ++ branchAdded).toSeq
    if (files.isEmpty)
      refuse("the merged file set is empty (a manifest must reference at least one file)")
    // sidecars: NDV/bloom are file-keyed snapshots of ONE side's files —
    // a branch that re-analyzed carries its own, else main's head copy
    // (branch-added files simply uncovered: decline-not-lie)
    val ndv = if (bm.ndvFile != baseM.ndvFile) bm.ndvFile else mainM.ndvFile
    val bloom = if (bm.bloomFile != baseM.bloomFile) bm.bloomFile else mainM.bloomFile
    val exact = bm.statsExact && mainM.statsExact
    val stats = FileStats.sidecarFor(spark, table, files, Some(mainM), bm.statsExact)
    Manifest("", baseM.deletes, baseM.keyCols,
      files = files, op = "publish", statsExact = exact, srcV = -1L,
      mixedSchema = bm.mixedSchema || mainM.mixedSchema,
      statsFile = stats,
      bucketCols = if (bm.bucketCols == mainM.bucketCols && bm.bucketN == mainM.bucketN)
        mainM.bucketCols else Nil,
      bucketN = if (bm.bucketCols == mainM.bucketCols && bm.bucketN == mainM.bucketN)
        mainM.bucketN else 0,
      bloomFile = bloom,
      sortCols = if (bm.sortCols == mainM.sortCols) mainM.sortCols else Nil,
      partSpec = part._1, ndvFile = ndv,
      provenance = s"branch:$name@$headBr rebase:$base->$mainHead",
      partGen = part._2, partHist = part._3,
      renames = renames, droppedCols = dropped,
      widens = widens, schemaJson = schemaJson)
  }

  /** MULTI-OP SINGLE-TABLE TRANSACTION — sugar over write-audit-publish
    * (the round-15 verdict's top ask): `ops` receives a PRIVATE branch
    * root and may run ANY number of commits against it (delete +
    * append + analyze + compact, every existing surface works on a
    * branch path unchanged); main readers never observe intermediate
    * state because nothing touches main until the single atomic
    * [[fastForward]] marker publishes the branch HEAD. Returns
    * (main's new version, ops' result).
    *
    * Concurrency: a main commit landing mid-transaction is handled by
    * the publish itself — file-disjoint changes REBASE (both land),
    * overlapping rewrites refuse loudly with main untouched by this
    * transaction. On ANY failure (ops threw, publish refused) the
    * staged branch is dropped and main is exactly as before — nothing
    * ever happened. On success the branch record is dropped when no
    * main manifest references its files (metadata-only transactions),
    * and otherwise kept until a main-side compaction releases them
    * ([[dropBranch]]'s published-files guard). */
  def withTransaction[T](spark: SparkSession, table: String)(ops: String => T): (Long, T) = {
    val nm = s"txn_${token()}"
    val br = createBranch(spark, table, nm)
    val out =
      try {
        val r = ops(br)
        (fastForward(spark, table, nm), r)
      } catch {
        case e: Throwable =>
          try dropBranch(spark, table, nm)
          catch { case scala.util.control.NonFatal(_) => () } // keep the original failure
          throw e
      }
    try dropBranch(spark, table, nm)
    catch { case _: IllegalArgumentException => () } // published files live there: guard keeps it
    out
  }

  /** Drop branch `name` (its staged files and version log). REFUSED
    * while any retained MAIN manifest still references files under the
    * branch root (a fast-forwarded head does, until a main-side
    * compaction rewrites them into main's own dirs) — deleting them
    * would corrupt published history. */
  def dropBranch(spark: SparkSession, table: String, name: String): Boolean = {
    val br = branchRoot(table, name)
    val p = new Path(br)
    val f = fs(spark, table)
    if (!f.exists(p)) return false
    val prefix = p.toUri.getPath + "/"
    val referencing = versions(spark, table).filter { v =>
      val m = manifest(spark, table, v)
      // EVERY sidecar the manifest can reference must be guarded —
      // an analyze on the branch published via fastForward leaves
      // main's ndvfile= under the branch root, and deleting it would
      // silently degrade CBO estimates to empty (NdvStats swallows
      // read failures by design)
      (m.files ++ m.deletes ++
        Seq(m.statsFile, m.bloomFile, m.ndvFile).filter(_.nonEmpty))
        .exists(q => new Path(q).toUri.getPath.startsWith(prefix))
    }
    require(referencing.isEmpty,
      s"dropBranch('$name') refused: main version(s) ${referencing.mkString(", ")} still " +
        s"reference files under $br (published via fastForward) — compact main first " +
        "(Bucketing.compactCommit rewrites them into the table's own directories)")
    f.delete(p, true)
  }

  /** The srcV cursor a CONSUMER commit last recorded on `table` — the
    * streaming sink's exactly-once epoch guard reads this, NOT the bare
    * head srcV:
    * maintenance commits (analyze/compact, srcV = -1) and metadata
    * publishes (fastForward, restore) can land between a cursor commit
    * and its at-least-once replay, and reading only the head would
    * reset the cursor to -1 (duplicate application) or — worse, before
    * round 14 — read a version number that was never an epoch (skipped
    * application). Walks newest-first and stops at the first commit
    * that carries a cursor (`srcV >= 0` and not an op that reuses the
    * field for table-version provenance); a table whose recent commits
    * are cursor commits — every steady-state streaming sink target —
    * resolves in O(1) manifest reads, and the O(history)
    * worst case only happens once, before the first cursor commit
    * exists (vacuum bounds retained history regardless). */
  def lastAppliedSrcV(spark: SparkSession, table: String): Long = {
    val vs = versions(spark, table)
    vs.reverseIterator
      .map(v => manifest(spark, table, v))
      .collectFirst {
        case m if m.srcV >= 0L && m.op != "restore" && m.op != "publish" &&
            m.op != "branch" => m.srcV
      }
      .getOrElse(-1L)
  }

  /** Columns a metadata-only rename/drop must NOT touch: live DV keys
    * (readers probe data files by these names), partition sources of
    * ANY spec generation (directory facts key by them), bucket and
    * sort layout columns (zip/order promises key by them). */
  private def layoutLockedCols(m: Manifest): Set[String] =
    (if (m.deletes.nonEmpty) m.keyCols else Nil).toSet ++
      m.partSpec.map(_.col) ++ m.partHist.flatMap(_._2.map(_.col)) ++
      m.bucketCols ++ m.sortCols

  /** Every physical name ever retired or aliased — re-using one would
    * resurface old files' values under the recycled name. */
  def retiredCols(m: Manifest): Set[String] =
    m.droppedCols.toSet ++ m.renames.flatMap(_._2)

  /** `ALTER TABLE ... RENAME COLUMN` as ONE metadata commit (zero data
    * movement, Iceberg-style name mapping): files written before keep
    * the old physical name and readers bind through the manifest's
    * `rename=` mapping; files written after carry the new name; a full
    * rewrite materializes the mapping away. */
  def renameColumnCommit(spark: SparkSession, table: String, from: String, to: String): Long = {
    val cur = currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $table"))
    val m = manifest(spark, table, cur)
    val logical = readVersion(spark, table, cur).schema.fieldNames.toSet
    require(logical.contains(from), s"RENAME COLUMN: no column '$from' on $table")
    require(!logical.contains(to), s"RENAME COLUMN: '$to' already exists on $table")
    require(!retiredCols(m).contains(to) && !m.droppedCols.contains(to),
      s"RENAME COLUMN: '$to' is a retired physical name on $table — old files still " +
        "hold values under it; compact (full rewrite) first to release the name")
    require(!layoutLockedCols(m).contains(from),
      s"RENAME COLUMN: '$from' is a live layout column (DV key / partition source / " +
        s"bucket / sort) on $table — rewrite the layout first")
    val fromChecks = TableChecks.checksReferencing(spark, table, from)
    require(fromChecks.isEmpty,
      s"RENAME COLUMN: '$from' is referenced by CHECK constraint(s) " +
        s"${fromChecks.mkString(", ")} on $table — DROP CONSTRAINT (and re-ADD against " +
        "the new name) first; the stored predicate SQL would go stale")
    val prior = m.renames.find(_._1 == from).map(_._2).getOrElse(Nil)
    val next = cur + 1
    if (!tryPublishManifest(spark, table, next,
        m.copy(ts = 0L, op = "rename-column", srcV = -1L,
          renames = m.renames.filterNot(_._1 == from) :+ ((to, from +: prior)),
          // a widened column keeps its widening under the new name, and
          // the pinned logical schema follows the rename
          widens = m.widens.map { case (c, t) => (if (c == from) to else c, t) },
          schemaJson = renameInSchemaJson(m.schemaJson, from, to))))
      throw new java.util.ConcurrentModificationException(
        s"renameColumnCommit lost the CAS race on $table v$next")
    next
  }

  private def renameInSchemaJson(json: String, from: String, to: String): String =
    if (json.isEmpty) json
    else StructType(DataType.fromJson(json).asInstanceOf[StructType].fields
      .map(f => if (f.name == from) f.copy(name = to) else f)).json

  private def dropInSchemaJson(json: String, name: String): String =
    if (json.isEmpty) json
    else StructType(DataType.fromJson(json).asInstanceOf[StructType].fields
      .filterNot(_.name == name)).json

  /** `ALTER TABLE ... DROP COLUMN` as ONE metadata commit: the column
    * (and every alias it ever had) joins the retired list — hidden
    * from reads, blocked from re-ADD until a full rewrite clears it. */
  def dropColumnCommit(spark: SparkSession, table: String, name: String): Long = {
    val cur = currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $table"))
    val m = manifest(spark, table, cur)
    val logical = readVersion(spark, table, cur).schema.fieldNames.toSeq
    require(logical.contains(name), s"DROP COLUMN: no column '$name' on $table")
    require(logical.size > 1, s"DROP COLUMN: cannot drop $table's last column")
    require(!layoutLockedCols(m).contains(name),
      s"DROP COLUMN: '$name' is a live layout column (DV key / partition source / " +
        s"bucket / sort) on $table — rewrite the layout first")
    val nameChecks = TableChecks.checksReferencing(spark, table, name)
    require(nameChecks.isEmpty,
      s"DROP COLUMN: '$name' is referenced by CHECK constraint(s) " +
        s"${nameChecks.mkString(", ")} on $table — DROP CONSTRAINT first; the stored " +
        "predicate would make every later write fail (or re-bind to a recycled name)")
    val aliases = m.renames.find(_._1 == name).map(_._2).getOrElse(Nil)
    val next = cur + 1
    if (!tryPublishManifest(spark, table, next,
        m.copy(ts = 0L, op = "drop-column", srcV = -1L,
          renames = m.renames.filterNot(_._1 == name),
          droppedCols = m.droppedCols ++ (name +: aliases),
          widens = m.widens.filterNot(_._1 == name),
          schemaJson = dropInSchemaJson(m.schemaJson, name))))
      throw new java.util.ConcurrentModificationException(
        s"dropColumnCommit lost the CAS race on $table v$next")
    next
  }

  /** `ALTER TABLE ... ALTER COLUMN ... TYPE` as ONE metadata commit,
    * for the LOSSLESS numeric widenings Spark's parquet readers upcast
    * natively (byte/short → int, byte/short/int → bigint, float →
    * double): old files keep their
    * narrow physical type, new files carry the wide one, and readers
    * hand every file the wide read schema. The commit pins the table's
    * logical schema in the manifest (`schemajson=`) because footer
    * merge cannot reconcile INT32 and INT64 generations. A full
    * rewrite materializes the widening away. */
  def widenColumnCommit(spark: SparkSession, table: String, name: String,
      newType: DataType): Long = {
    val cur = currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $table"))
    val m = manifest(spark, table, cur)
    val logical = readVersion(spark, table, cur).schema
    val field = logical.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"ALTER COLUMN TYPE: no column '$name' on $table"))
    val widens = (field.dataType, newType) match {
      // the integral chain (byte/short/int physical INT32 upcasts
      // natively on both parquet reader paths — verified empirically
      // on Spark 4.1.2) and float -> double; the SHORT target is
      // excluded because the connector's row reader has no short
      // decode path
      case (ByteType | ShortType | IntegerType, LongType) => true
      case (ByteType | ShortType, IntegerType)            => true
      case (FloatType, DoubleType)                        => true
      case _                                              => false
    }
    require(widens,
      s"ALTER COLUMN TYPE: ${field.dataType.catalogString} -> ${newType.catalogString} " +
        s"is not a supported metadata-only widening on $table (supported: " +
        "byte/short -> int, byte/short/int -> bigint, float -> double) — anything else " +
        "needs a full rewrite (REPLACE TABLE ... AS SELECT)")
    require(!layoutLockedCols(m).contains(name),
      s"ALTER COLUMN TYPE: '$name' is a live layout column (DV key / partition source / " +
        s"bucket / sort) on $table — rewrite the layout first")
    val widened = StructType(logical.fields.map(f =>
      if (f.name == name) f.copy(dataType = newType) else f))
    val next = cur + 1
    if (!tryPublishManifest(spark, table, next,
        m.copy(ts = 0L, op = "widen-column", srcV = -1L,
          widens = m.widens.filterNot(_._1 == name) :+ ((name, newType.catalogString)),
          schemaJson = widened.json)))
      throw new java.util.ConcurrentModificationException(
        s"widenColumnCommit lost the CAS race on $table v$next")
    next
  }

  /** `ALTER TABLE ... ALTER COLUMN c SET DEFAULT <sql>` / `DROP
    * DEFAULT` (round 15): ONE metadata commit editing the pinned
    * schema's CURRENT_DEFAULT — future INSERTs omitting the column
    * fill the new default. The frozen EXISTS_DEFAULT (what files
    * predating the column's ADD report) is never touched: SET DEFAULT
    * does not backfill, per standard semantics. */
  def setDefaultCommit(spark: SparkSession, table: String, col: String,
      defaultSql: Option[String]): Long = {
    val cur = currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $table"))
    val m = manifest(spark, table, cur)
    val logical = ColumnMapping.pinnedSchema(m)
      .getOrElse(readVersion(spark, table, cur).schema)
    require(logical.fieldNames.contains(col),
      s"ALTER COLUMN SET DEFAULT: no column '$col' on $table")
    val edited = StructType(logical.fields.map { f =>
      if (f.name != col) f
      else {
        val mb = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
        defaultSql match {
          case Some(sql) => mb.putString("CURRENT_DEFAULT", sql)
          case None      => mb.remove("CURRENT_DEFAULT")
        }
        f.copy(metadata = mb.build())
      }
    })
    val next = cur + 1
    if (!tryPublishManifest(spark, table, next,
        m.copy(ts = 0L, op = "set-default", srcV = -1L, schemaJson = edited.json)))
      throw new java.util.ConcurrentModificationException(
        s"setDefaultCommit lost the CAS race on $table v$next")
    next
  }

  /** All tags of `table`: name → version. */
  def tags(spark: SparkSession, table: String): Map[String, Long] = {
    val f = fs(spark, table)
    val dir = new Path(refsDir(table))
    if (!f.exists(dir)) return Map.empty
    f.listStatus(dir).toSeq.filter(s => s.isFile && !s.getPath.getName.startsWith("."))
      .flatMap { s =>
        val in = f.open(s.getPath)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        text.linesIterator.find(_.startsWith("v=")).flatMap(l =>
          l.stripPrefix("v=").toLongOption).map(s.getPath.getName -> _)
      }.toMap
  }

  /** A `version` spec as the readers accept it: a number, or a tag
    * name. Loud on an unknown tag — a silent fallback to "latest"
    * would time-travel to the wrong snapshot. */
  def resolveVersionSpec(spark: SparkSession, table: String, spec: String): Long =
    spec.toLongOption.getOrElse {
      tags(spark, table).getOrElse(spec, throw new IllegalArgumentException(
        s"unknown version spec '$spec' on $table: not a number and not a tag " +
          s"(tags: ${tags(spark, table).keys.toSeq.sorted.mkString(", ")})"))
    }

  def readAsOf(spark: SparkSession, table: String, tsMillis: Long): DataFrame =
    readVersion(spark, table, versionAsOf(spark, table, tsMillis))

  /** Newest committed version whose commit wall-clock is at or before
    * `tsMillis` (CAS-serialized versions make commit times monotone). */
  def versionAsOf(spark: SparkSession, table: String, tsMillis: Long): Long = {
    val vs = versions(spark, table)
    val candidates = vs.map(v => v -> manifest(spark, table, v).ts)
    candidates.filter { case (_, ts) => ts > 0L && ts <= tsMillis }.map(_._1).lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot at or before $tsMillis under $table (commits: ${candidates.map(_._2).mkString(",")})"))
  }

  /** Oldest committed version whose commit wall-clock is at or after
    * `tsMillis` — the change-feed `startingTimestamp` resolution
    * (inverse of [[versionAsOf]]). Loud when every retained commit
    * predates the instant: "changes since ts" from a table that has
    * not moved since would silently mean "nothing", which reads as
    * data loss downstream. */
  def versionSince(spark: SparkSession, table: String, tsMillis: Long): Long = {
    val vs = versions(spark, table)
    vs.find(v => manifest(spark, table, v).ts >= tsMillis).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot at or after $tsMillis under $table — the newest commit " +
          s"predates the requested start (newest: " +
          s"${vs.lastOption.map(v => manifest(spark, table, v).ts).getOrElse(-1L)})"))
  }

  /** Commit history (the DESCRIBE HISTORY surface): one row per
    * retained version with its wall-clock, operation kind (inferred
    * from the manifest shape — a delete commit shares its
    * predecessor's data dir), and deletion-vector count. Metadata-only:
    * reads commit markers, never data. */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val vs = versions(spark, table)
    val ms = vs.map(v => manifest(spark, table, v))
    val rows = vs.zip(ms).zipWithIndex.map { case ((v, m), i) =>
      val op =
        if (i == 0) "create"
        else if (m.op.nonEmpty) m.op // recorded by the committing API
        else if (ms(i - 1).data == m.data && ms(i - 1).files == m.files) "delete"
        else "rewrite"
      (v, m.ts, op, m.deletes.size, m.keyCols.mkString(","))
    }
    rows.toDF("version", "commit_ts_ms", "operation", "n_delete_files", "key_cols")
  }

  /** ROLL BACK the table to retained version `v` by publishing a NEW
    * head whose manifest references `v`'s exact data files, deletion
    * vectors, and layout tags — an O(1)-data commit (one marker write,
    * zero bytes copied; the fat-finger recovery every table format
    * ships as RESTORE). History is preserved: the bad head stays
    * readable by version until vacuum ages it out, and vacuum's
    * refcount keeps the restored files alive because the new head
    * references them. CAS multi-writer safe; `srcV` records the
    * restored-from version. */
  def restoreCommit(spark: SparkSession, table: String, v: Long): Long = {
    val cur = currentVersion(spark, table)
      .getOrElse(throw new IllegalStateException(s"no committed snapshot under $table"))
    require(versions(spark, table).contains(v),
      s"cannot restore $table to version $v: not a retained version")
    if (v == cur) return cur // restoring to the head is a no-op
    val m = manifest(spark, table, v)
    var next = cur + 1
    while (!tryPublishManifest(spark, table, next,
        m.copy(op = "restore", srcV = v, ts = 0L))) // fresh wall-clock
      next += 1
    next
  }

  /** Wall-clock retention: drop every version whose commit time is
    * strictly BEFORE `tsMillis` (the "vacuum older than 7 days"
    * contract every table format ships), keeping at least `minKeep`
    * trailing versions regardless — in-flight readers pinned to the
    * previous snapshot survive an aggressive cutoff. Versions from the
    * pre-timestamp marker era (ts=0, unknown age) are conservatively
    * treated as fresh. Delegates to the refcounted [[vacuum]], so
    * shared data dirs / files / DVs survive while ANY retained version
    * references them. */
  def vacuumOlderThan(
      spark: SparkSession, table: String, tsMillis: Long, minKeep: Int = 2): Seq[Long] = {
    require(minKeep >= 1, s"minKeep must be >= 1, got $minKeep")
    val vs = versions(spark, table)
    if (vs.isEmpty) return Seq.empty
    val fresh = vs.count { v =>
      val ts = manifest(spark, table, v).ts
      ts == 0L || ts >= tsMillis
    }
    vacuum(spark, table, keep = math.max(minKeep, fresh))
  }

  /** Retention GC: drop all but the newest `keep` committed snapshots,
    * plus any UNCOMMITTED orphan `v=` directory below the current
    * version (an abandoned or CAS-defeated write that never published a
    * marker). Data dirs and deletion-vector files are reference-counted
    * across the RETAINED manifests — a delete commit shares its
    * predecessor's data dir, so physical deletion happens only when the
    * last referencing version ages out. Run single-maintenance-writer
    * (like every table format's vacuum). Returns the dropped version
    * numbers. Keep ≥ 2 to leave a grace snapshot for in-flight readers
    * of the previous version. */
  def vacuum(spark: SparkSession, table: String, keep: Int = 2): Seq[Long] = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val committed = versions(spark, table)
    if (committed.isEmpty) return Seq.empty
    val current = committed.last
    val f = fs(spark, table)
    val root = new Path(table)

    // TAGGED versions are live regardless of the keep horizon — a tag
    // is an explicit retention pin (drop the tag to release it). A
    // BRANCH pins its fork base the same way: the branch's v0 manifest
    // references the base version's files in place, so aging the base
    // out would corrupt every branch forked from it.
    val tagged = tags(spark, table).values.toSet ++
      branches(spark, table).values.map(_._2).filter(_ >= 0L)
    val retained = committed.filter(v =>
      tagged.contains(v) || committed.takeRight(keep).contains(v))
    val doomedCommitted = committed.filterNot(retained.toSet)
    val retainedManifests = retained.map(v => manifest(spark, table, v))
    // dir-granular manifests protect their whole data dir; file-granular
    // manifests protect individual (dirName, fileName) entries — an
    // append chain shares files across staging dirs of many versions,
    // so liveness is per FILE, not per dir
    val liveData = retainedManifests.filter(m => m.data.nonEmpty && m.files.isEmpty)
      .map(m => new Path(m.data).getName).toSet
    val liveFiles = retainedManifests.flatMap(_.files)
      .map { p => val q = new Path(p); (q.getParent.getName, q.getName) }.toSet
    // v-dir-relative identity (`v=<N>__tok/__gp0=…/part-x.parquet`) —
    // partition-routed files nest under `__gpN=` dirs, so (parent,
    // name) pairs alone would miss them in the sweep below
    def vKeyOf(p: String): Option[String] = {
      val segs = new Path(p).toUri.getPath.split('/')
      val i = segs.lastIndexWhere(_.startsWith("v="))
      if (i < 0) None else Some(segs.drop(i).mkString("/"))
    }
    val liveVKeys = retainedManifests.flatMap(_.files).flatMap(vKeyOf).toSet
    val liveDvs = retainedManifests.flatMap(_.deletes).map(p => new Path(p).getName).toSet
    val liveStats = retainedManifests.map(_.statsFile).filter(_.nonEmpty)
      .map(p => new Path(p).getName).toSet
    val liveBlooms = retainedManifests.map(_.bloomFile).filter(_.nonEmpty)
      .map(p => new Path(p).getName).toSet

    // aged-out versions: markers drop; v=* data under the root is swept
    // below (refcounted); EXTERNAL or custom-named dir-granular data
    // (the publishMarker/foreign-data case) is deleted here, because
    // the v=* sweep never visits it
    doomedCommitted.foreach { v =>
      val m = manifest(spark, table, v)
      if (m.files.isEmpty && m.data.nonEmpty) {
        val name = new Path(m.data).getName
        val underRootSweep = name.startsWith("v=") &&
          new Path(m.data).getParent != null &&
          new Path(m.data).getParent.toUri.getPath == root.toUri.getPath
        val hasLiveFilesInside = liveFiles.exists(_._1 == name)
        if (!underRootSweep && !liveData.contains(name) && !hasLiveFilesInside)
          f.delete(new Path(m.data), true)
      }
      f.delete(new Path(commitsDir(table), v.toString), false)
    }

    // one sweep over all v= dirs below current (aged-out AND orphaned
    // stages): a dir survives whole if dir-granular-live; otherwise its
    // dead files are deleted individually and the dir goes once empty.
    // Dirs at/above current are never touched — writers may be staging.
    f.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(p => p.getName.startsWith("v="))
      .filter(p => !liveData.contains(p.getName))
      .filter(p => dirVersion(p.getName).exists(_ < current))
      .foreach { p =>
        // recursive: partition-routed stages nest files under __gpN=
        // dirs; liveness keys on the v-dir-relative path
        def sweep(dir: Path): Boolean = { // returns "anything live below"
          var anyLive = false
          f.listStatus(dir).foreach { s =>
            if (s.isDirectory) {
              if (sweep(s.getPath)) anyLive = true
              else f.delete(s.getPath, true) // nothing live → prune the empty dir
            } else {
              val key = vKeyOf(s.getPath.toString)
              if (key.exists(liveVKeys.contains) ||
                  liveFiles.contains((dir.getName, s.getPath.getName))) anyLive = true
              else f.delete(s.getPath, false)
            }
          }
          anyLive
        }
        if (!sweep(p)) f.delete(p, true)
      }

    // unreferenced deletion-vector files (aged-out or CAS-defeated)
    val dvRoot = new Path(deletesDir(table))
    if (f.exists(dvRoot)) {
      f.listStatus(dvRoot).toSeq
        .map(_.getPath)
        .filter(p => !liveDvs.contains(p.getName))
        .foreach(p => f.delete(p, true))
    }
    // unreferenced stats sidecars — same lifecycle as DV files
    val statsRoot = new Path(FileStats.statsDir(table))
    if (f.exists(statsRoot)) {
      f.listStatus(statsRoot).toSeq
        .map(_.getPath)
        .filter(p => !liveStats.contains(p.getName))
        .foreach(p => f.delete(p, false))
    }
    // unreferenced bloom-index dirs — same lifecycle again
    val bloomRoot = new Path(s"$table/_bloom")
    if (f.exists(bloomRoot)) {
      f.listStatus(bloomRoot).toSeq
        .map(_.getPath)
        .filter(p => !liveBlooms.contains(p.getName))
        .foreach(p => f.delete(p, true))
    }
    doomedCommitted
  }
}
