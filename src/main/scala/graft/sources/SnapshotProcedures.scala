package graft.sources

import graft.ops.{Bucketing, Zorder}
import graft.store.SnapshotStore

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._

/** Stored procedures for snapshot-table MAINTENANCE — the pure-SQL
  * face of the engine's table-service jobs, served through Spark 4's
  * native `CALL` statement (the same UX Iceberg/Delta users run their
  * `OPTIMIZE`/`VACUUM` through):
  *
  * {{{
  *   CALL snap.system.compact(table => 'sales.orders')
  *   CALL snap.system.compact_small_files(table => 'sales.orders')
  *   CALL snap.system.zorder(table => 'sales.orders', cols => 'o_custkey,o_orderdate')
  *   CALL snap.system.vacuum(table => 'sales.orders', keep => 3)
  *   SHOW PROCEDURES IN snap.system
  *   DESCRIBE PROCEDURE snap.system.compact
  * }}}
  *
  * Each procedure is a thin SQL binding over the ONE existing
  * implementation home ([[Bucketing.compactCommit]],
  * [[Bucketing.compactSmallFilesCommit]], [[Zorder.optimizeCommit]],
  * [[SnapshotStore.vacuum]]) — no second copy of any commit protocol.
  * Results come back as ordinary result sets (a [[LocalScan]] of the
  * operation's receipt: versions committed, files rewritten/linked/
  * dropped), so a scheduler can assert on the outcome with plain SQL.
  *
  * Table arguments are catalog-relative names (`ns.table`, resolved
  * under the catalog's warehouse) — the procedure runs against the
  * SAME table a `SELECT` through the catalog would read.
  *
  * Reference analog: the reference schedules its maintenance as
  * separate Glue jobs named by the pipeline (SURVEY §2 S7); here the
  * jobs are callable from any SQL client connected to the catalog.
  */
object SnapshotProcedures {

  val Namespace: Array[String] = Array("system")

  /** Resolve `ns.table` (possibly multi-level `ns1.ns2.t`) under the
    * catalog warehouse — identical layout to
    * `SnapshotCatalog.tableRoot`. */
  private def root(warehouse: String, table: String): String = {
    require(table.nonEmpty, "table argument must be non-empty")
    (warehouse +: table.split('.').toSeq).mkString("/")
  }

  private def spark: SparkSession = SparkSession.active

  /** One result-set scan: procedures return their receipt as rows. */
  private final class ResultScan(out: StructType, result: Array[InternalRow])
      extends LocalScan {
    override def rows(): Array[InternalRow] = result
    override def readSchema(): StructType = out
  }

  /** An unbound+bound procedure in one: binding is trivial because the
    * parameter list is static (the analyzer handles named-argument
    * reordering, defaults, and type coercion from the declared
    * [[ProcedureParameter]]s before `call` sees the row). */
  private final class Proc(
      procName: String,
      desc: String,
      params: Array[ProcedureParameter],
      out: StructType)(run: InternalRow => Array[InternalRow])
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = desc
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false // commits state
    override def call(input: InternalRow): java.util.Iterator[Scan] =
      java.util.Collections
        .singletonList[Scan](new ResultScan(out, run(input)))
        .iterator()
  }

  private def p(name: String, dt: DataType, default: Option[String] = None,
      comment: String): ProcedureParameter = {
    var b = ProcedureParameter.in(name, dt)
    default.foreach(d => b = b.defaultValue(d))
    if (comment.nonEmpty) b = b.comment(comment)
    b.build()
  }

  private def row(vals: Any*): InternalRow = new GenericInternalRow(vals.toArray)

  /** Every procedure, in `SHOW PROCEDURES` order: [[names]] and [[load]]
    * both read this one table, so the listing cannot drift from what
    * `CALL` resolves. */
  private def all(warehouse: String): Seq[Proc] = Seq(
      new Proc(
        "compact",
        "Full rewrite of the current snapshot into ~target_mb files as the next " +
          "version; materializes live deletion vectors away and re-buckets " +
          "bucketed tables through their own hash",
        Array(
          p("table", StringType, comment = "catalog-relative name, e.g. 'ns.t'"),
          p("target_mb", IntegerType, Some("128"), "target output file size")),
        StructType(Seq(
          StructField("files_before", IntegerType, nullable = false),
          StructField("files_after", IntegerType, nullable = false),
          StructField("bytes_total", LongType, nullable = false),
          StructField("version", LongType, nullable = false))))({ in =>
        val t = root(warehouse, in.getUTF8String(0).toString)
        val targetMb = in.getInt(1)
        require(targetMb > 0, s"target_mb must be positive, got $targetMb")
        val (before, after, bytes, v) =
          Bucketing.compactCommit(spark, t, targetMb.toLong * 1024 * 1024)
        Array(row(before, after, bytes, v))
      }),

      new Proc(
        "compact_small_files",
        "Incremental OPTIMIZE: merge only files under small_mb into ~target_mb " +
          "files, re-linking every file already at size — O(small files), " +
          "the cleanup pass for streaming-sink/append debris",
        Array(
          p("table", StringType, comment = "catalog-relative name, e.g. 'ns.t'"),
          p("small_mb", IntegerType, Some("16"), "files under this size merge"),
          p("target_mb", IntegerType, Some("128"), "target output file size")),
        StructType(Seq(
          StructField("files_rewritten", IntegerType, nullable = false),
          StructField("files_linked", IntegerType, nullable = false),
          StructField("files_after", IntegerType, nullable = false),
          StructField("version", LongType, nullable = false))))({ in =>
        val t = root(warehouse, in.getUTF8String(0).toString)
        val smallMb = in.getInt(1); val targetMb = in.getInt(2)
        require(smallMb > 0 && targetMb > 0,
          s"small_mb/target_mb must be positive, got $smallMb/$targetMb")
        val (rewritten, linked, after, v) = Bucketing.compactSmallFilesCommit(
          spark, t, smallMb.toLong * 1024 * 1024, targetMb.toLong * 1024 * 1024)
        Array(row(rewritten, linked, after, v))
      }),

      new Proc(
        "zorder",
        "Rewrite the current snapshot Morton-clustered on cols (comma-separated) " +
          "as the next version — multi-column skipping locality for the " +
          "row-group stats pruner",
        Array(
          p("table", StringType, comment = "catalog-relative name, e.g. 'ns.t'"),
          p("cols", StringType, comment = "comma-separated cluster columns"),
          p("bits", IntegerType, Some("16"), "Morton bits per column"),
          p("num_files", IntegerType, Some("0"), "output files; 0 = keep current count")),
        StructType(Seq(
          StructField("files", IntegerType, nullable = false),
          StructField("version", LongType, nullable = false))))({ in =>
        val t = root(warehouse, in.getUTF8String(0).toString)
        val cols = in.getUTF8String(1).toString.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        require(cols.nonEmpty, "cols must name at least one column")
        val bits = in.getInt(2)
        val nFiles0 = in.getInt(3)
        val nFiles =
          if (nFiles0 > 0) nFiles0
          else {
            val cur = SnapshotStore.currentVersion(spark, t).getOrElse(
              throw new IllegalStateException(s"no committed snapshot under $t"))
            SnapshotStore.dataFiles(spark, SnapshotStore.manifest(spark, t, cur)).size
          }
        val v = Zorder.optimizeCommit(spark, t, cols, bits, math.max(1, nFiles))
        Array(row(math.max(1, nFiles), v))
      }),

      new Proc(
        "zorder_partition",
        "Subset OPTIMIZE: Morton-cluster ONLY the named partition's files as a " +
          "file-granular keep ++ rewritten commit — every other partition's " +
          "bytes stay put; fully-covered deletion vectors clear",
        Array(
          p("table", StringType, comment = "catalog-relative name, e.g. 'ns.t'"),
          p("cols", StringType, comment = "comma-separated cluster columns"),
          p("value", StringType, comment = "partition value (as in $partitions)"),
          p("bits", IntegerType, Some("16"), "Morton bits per column"),
          p("num_files", IntegerType, Some("1"), "output files for the partition")),
        StructType(Seq(
          StructField("version", LongType, nullable = false))))({ in =>
        val t = root(warehouse, in.getUTF8String(0).toString)
        val cols = in.getUTF8String(1).toString.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        require(cols.nonEmpty, "cols must name at least one column")
        val value = in.getUTF8String(2).toString
        val bits = in.getInt(3); val nFiles = in.getInt(4)
        require(nFiles > 0, s"num_files must be positive, got $nFiles")
        val v = Zorder.optimizePartitionCommit(spark, t, cols, bits, nFiles, value)
        Array(row(v))
      }),

      new Proc(
        "bloom_index",
        "Build per-(file, column) Bloom filters over the current snapshot and " +
          "publish them as the next version — point `=` / `IN` lookups on the " +
          "indexed columns then prune files at planning (the point-lookup " +
          "complement of min/max stats)",
        Array(
          p("table", StringType, comment = "catalog-relative name, e.g. 'ns.t'"),
          p("cols", StringType, comment = "comma-separated columns to index"),
          p("expected_items", IntegerType, Some("1048576"), "expected keys per file"),
          p("num_bits", IntegerType, Some("8388608"), "bits per file filter")),
        StructType(Seq(
          StructField("version", LongType, nullable = false))))({ in =>
        val t = root(warehouse, in.getUTF8String(0).toString)
        val cols = in.getUTF8String(1).toString.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        require(cols.nonEmpty, "cols must name at least one column")
        val items = in.getInt(2); val bits = in.getInt(3)
        require(items > 0 && bits > 0,
          s"expected_items/num_bits must be positive, got $items/$bits")
        val v = graft.ops.BloomIndex.bloomCommit(spark, t, cols, items.toLong, bits.toLong)
        Array(row(v))
      }),

      new Proc(
        "vacuum",
        "Drop all but the newest `keep` versions and delete data/DV/stats files " +
          "no retained version references (file-refcounted; keep >= 1). " +
          "older_than_ms > 0 switches to wall-clock retention: drop versions " +
          "committed before the instant, keeping at least `keep` trailing ones",
        Array(
          p("table", StringType, comment = "catalog-relative name, e.g. 'ns.t'"),
          p("keep", IntegerType, Some("2"), "retained trailing versions"),
          p("older_than_ms", LongType, Some("0"),
            "epoch-millis cutoff; 0 = count-based retention")),
        StructType(Seq(
          StructField("dropped_versions", ArrayType(LongType, containsNull = false),
            nullable = false),
          StructField("n_dropped", IntegerType, nullable = false))))({ in =>
        val t = root(warehouse, in.getUTF8String(0).toString)
        val cutoff = in.getLong(2)
        val dropped =
          if (cutoff > 0L) SnapshotStore.vacuumOlderThan(spark, t, cutoff, in.getInt(1))
          else SnapshotStore.vacuum(spark, t, in.getInt(1))
        Array(row(new GenericArrayData(dropped.toArray), dropped.size))
      }),

      new Proc(
        "restore",
        "Roll the table back to a retained version: publish a NEW head that " +
          "references that version's exact files/DVs/layout — one marker write, " +
          "zero bytes copied; the bad head stays readable until vacuum",
        Array(
          p("table", StringType, comment = "catalog-relative name, e.g. 'ns.t'"),
          p("version", LongType, comment = "retained version to restore to")),
        StructType(Seq(
          StructField("restored_from", LongType, nullable = false),
          StructField("new_version", LongType, nullable = false))))({ in =>
        val t = root(warehouse, in.getUTF8String(0).toString)
        val v = in.getLong(1)
        Array(row(v, SnapshotStore.restoreCommit(spark, t, v)))
      }),

      new Proc(
        "create_tag",
        "Pin a committed version under an immutable NAME: readers time-travel " +
          "to it with VERSION AS OF '<name>' (or the reader option " +
          "version=<name>), and vacuum retains the tagged version's files " +
          "past any keep horizon until drop_tag releases it",
        Array(
          p("table", StringType, comment = "catalog-relative name, e.g. 'ns.t'"),
          p("name", StringType, comment = "tag name ([A-Za-z0-9._-], no leading dot)"),
          p("version", LongType, Some("-1"), "version to pin; -1 = current head")),
        StructType(Seq(
          StructField("tagged_version", LongType, nullable = false))))({ in =>
        val t = root(warehouse, in.getUTF8String(0).toString)
        val name = in.getUTF8String(1).toString
        Array(row(SnapshotStore.createTag(spark, t, name, in.getLong(2))))
      }),

      new Proc(
        "drop_tag",
        "Release a tag: its version becomes vacuum-eligible again",
        Array(
          p("table", StringType, comment = "catalog-relative name, e.g. 'ns.t'"),
          p("name", StringType, comment = "tag name to drop")),
        StructType(Seq(
          StructField("existed", BooleanType, nullable = false))))({ in =>
        val t = root(warehouse, in.getUTF8String(0).toString)
        Array(row(SnapshotStore.dropTag(spark, t, in.getUTF8String(1).toString)))
      }),

      new Proc(
        "create_branch",
        "Fork a WRITABLE branch at the table's head (O(1) metadata): every " +
          "write surface works against the returned branch path (the " +
          "write-audit-publish flow), main never sees branch commits until " +
          "fast_forward publishes them",
        Array(
          p("table", StringType, comment = "catalog-relative name, e.g. 'ns.t'"),
          p("name", StringType, comment = "branch name ([A-Za-z0-9._-], no leading dot)")),
        StructType(Seq(
          StructField("branch_path", StringType, nullable = false))))({ in =>
        val t = root(warehouse, in.getUTF8String(0).toString)
        val br = SnapshotStore.createBranch(spark, t, in.getUTF8String(1).toString)
        Array(row(org.apache.spark.unsafe.types.UTF8String.fromString(br)))
      }),

      new Proc(
        "fast_forward",
        "PUBLISH a branch: fast-forward main to the branch head in one atomic " +
          "marker rename, zero data movement; refused if main moved past the " +
          "branch's fork base (re-branch from the new head)",
        Array(
          p("table", StringType, comment = "catalog-relative name, e.g. 'ns.t'"),
          p("name", StringType, comment = "branch name to publish")),
        StructType(Seq(
          StructField("published_version", LongType, nullable = false))))({ in =>
        val t = root(warehouse, in.getUTF8String(0).toString)
        Array(row(SnapshotStore.fastForward(spark, t, in.getUTF8String(1).toString)))
      }),

      new Proc(
        "drop_branch",
        "Delete a branch's staged files and version log; refused while a " +
          "published main version still references them (compact main first)",
        Array(
          p("table", StringType, comment = "catalog-relative name, e.g. 'ns.t'"),
          p("name", StringType, comment = "branch name to drop")),
        StructType(Seq(
          StructField("existed", BooleanType, nullable = false))))({ in =>
        val t = root(warehouse, in.getUTF8String(0).toString)
        Array(row(SnapshotStore.dropBranch(spark, t, in.getUTF8String(1).toString)))
      }),

      new Proc(
        "analyze",
        "NDV column statistics: one distributed pass aggregates a mergeable " +
          "HLL sketch per (file, column) and publishes it as the next version " +
          "(ndvfile= marker, data untouched) — the scan then reports " +
          "distinctCount to Spark's CBO for join cardinality and reordering",
        Array(
          p("table", StringType, comment = "catalog-relative name, e.g. 'ns.t'"),
          p("columns", StringType, comment = "comma-separated column names")),
        StructType(Seq(
          StructField("analyzed_version", LongType, nullable = false))))({ in =>
        val t = root(warehouse, in.getUTF8String(0).toString)
        val cols = in.getUTF8String(1).toString.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        Array(row(graft.ops.NdvStats.analyzeCommit(spark, t, cols)))
      }),

      new Proc(
        "mv_create",
        "Create an incrementally-maintainable aggregate MV over a snapshot " +
          "table (group columns + n/sum/cnt/min/max state per measure): one " +
          "full aggregate now, O(changed rows) refreshes after — and DSv2 " +
          "scans of the base transparently rewrite onto it while it is fresh",
        Array(
          p("base", StringType, comment = "catalog-relative base table, e.g. 'ns.t'"),
          p("mv", StringType, comment = "catalog-relative MV table to create"),
          p("group_cols", StringType, comment = "comma-separated group columns"),
          p("measure_cols", StringType, comment = "comma-separated measure columns")),
        StructType(Seq(
          StructField("mv_version", LongType, nullable = false),
          StructField("base_version", LongType, nullable = false))))({ in =>
        val b = root(warehouse, in.getUTF8String(0).toString)
        val mvT = root(warehouse, in.getUTF8String(1).toString)
        val g = in.getUTF8String(2).toString.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        val ms = in.getUTF8String(3).toString.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        val r = graft.sql.SnapshotMv.create(spark, b, mvT, g, ms)
        Array(row(r.mvVersion, r.toVersion))
      }),

      new Proc(
        "mv_create_join",
        "Create an incrementally-maintainable JOIN MV: the summary of " +
          "fact INNER JOIN dims (star shape) grouped by fact columns and/or " +
          "dim attrs, measures from the fact. Dim versions pin at create; " +
          "refresh folds FACT deltas enriched through the pinned dims and " +
          "falls back to one re-pinning rebuild when a dim moves",
        Array(
          p("base", StringType, comment = "catalog-relative fact table, e.g. 'ns.t'"),
          p("mv", StringType, comment = "catalog-relative MV table to create"),
          p("dims", StringType, comment =
            "semicolon-separated dim specs 'table:fk1|fk2=dk1|dk2:attr1|attr2'"),
          p("group_cols", StringType, comment = "comma-separated group columns"),
          p("measure_cols", StringType, comment = "comma-separated FACT measure columns")),
        StructType(Seq(
          StructField("mv_version", LongType, nullable = false),
          StructField("base_version", LongType, nullable = false))))({ in =>
        val b = root(warehouse, in.getUTF8String(0).toString)
        val mvT = root(warehouse, in.getUTF8String(1).toString)
        def list(s: String) = s.split('|').map(_.trim).filter(_.nonEmpty).toSeq
        val dims = in.getUTF8String(2).toString.split(';').map(_.trim)
          .filter(_.nonEmpty).toSeq.map { spec =>
            spec.split(':') match {
              case Array(t, on, attrs) => on.split('=') match {
                case Array(fks, dks) => graft.sql.MaterializedAgg.MvDim(
                  root(warehouse, t), list(fks), list(dks), list(attrs))
                case _ => throw new IllegalArgumentException(
                  s"dim spec '$spec' needs fk1|fk2=dk1|dk2 between the colons")
              }
              case _ => throw new IllegalArgumentException(
                s"dim spec '$spec' must be table:fks=dks:attrs")
            }
          }
        val g = in.getUTF8String(3).toString.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        val ms = in.getUTF8String(4).toString.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        val r = graft.sql.SnapshotMv.createJoin(spark, b, mvT, dims, g, ms)
        Array(row(r.mvVersion, r.toVersion))
      }),

      new Proc(
        "mv_refresh",
        "Advance an MV to its base table's current version by folding the " +
          "batch change feed into the stored state — reads O(changed rows), " +
          "never rescans the base (mode tells: incremental / full fallback " +
          "on a true rewrite / noop when already current)",
        Array(
          p("mv", StringType, comment = "catalog-relative MV table, e.g. 'marts.mv'")),
        StructType(Seq(
          StructField("mode", StringType, nullable = false),
          StructField("mv_version", LongType, nullable = false),
          StructField("from_version", LongType, nullable = false),
          StructField("to_version", LongType, nullable = false),
          StructField("recomputed_groups", LongType, nullable = false))))({ in =>
        val mvT = root(warehouse, in.getUTF8String(0).toString)
        val r = graft.sql.SnapshotMv.refresh(spark, mvT)
        Array(row(org.apache.spark.unsafe.types.UTF8String.fromString(r.mode),
          r.mvVersion, r.fromVersion, r.toVersion, r.recomputedGroups))
      }),

      new Proc(
        "evolve_partition_spec",
        "Partition SPEC EVOLUTION: switch the table's partition layout for " +
          "future writes in one metadata-only commit (zero data movement) — " +
          "existing files keep pruning under the generation-tagged spec that " +
          "wrote them; a compaction re-routes everything and heals the history",
        Array(
          p("table", StringType, comment = "catalog-relative name, e.g. 'ns.t'"),
          p("spec", StringType,
            comment = "new spec, e.g. 'days:ts' or 'months:ts|identity:region' " +
              "or 'truncate:4:sku'")),
        StructType(Seq(
          StructField("evolved_version", LongType, nullable = false))))({ in =>
        val t = root(warehouse, in.getUTF8String(0).toString)
        val spec = graft.store.PartitionSpec.parse(in.getUTF8String(1).toString)
        Array(row(SnapshotStore.evolvePartitionSpec(spark, t, spec)))
      }))

  def names: Seq[String] = all("").map(_.name())

  def load(warehouse: String, name: String): Option[UnboundProcedure] =
    all(warehouse).find(_.name() == name.toLowerCase)
}
