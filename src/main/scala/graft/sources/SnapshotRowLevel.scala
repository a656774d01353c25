package graft.sources

import graft.store.SnapshotStore

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL row-level commands over snapshot tables — `MERGE INTO`,
  * `UPDATE`, `DELETE` — as a GROUP-BASED (copy-on-write) DataSource V2
  * row-level operation, the shape Spark plans as `ReplaceData`:
  *
  * {{{
  *   MERGE INTO snap.facts.orders t USING updates s
  *   ON t.o_orderkey = s.o_orderkey
  *   WHEN MATCHED THEN UPDATE SET *
  *   WHEN NOT MATCHED THEN INSERT *
  * }}}
  *
  * The scale contract, made possible by FILE-GRANULAR manifests:
  *  1. Spark's runtime group filter
  *     (`RowLevelOperationRuntimeGroupFiltering`) computes the distinct
  *     `_file` values with at least one row matching the command and
  *     hands them to [[SnapshotScan.filter]] — only TOUCHED files are
  *     read and rewritten.
  *  2. The replacement write stages the surviving+updated+inserted rows
  *     of those files as fresh part files.
  *  3. [[SnapshotRowLevelBatchWrite.commit]] publishes ONE manifest:
  *     (previous files − touched files) + staged files. Untouched files
  *     never move — a 1-row MERGE against a 10 000-file table rewrites
  *     one file, not the table.
  *
  * Correctness guards:
  *  - The group scan reads touched files WHOLE (no static row-group
  *    skipping — see [[SnapshotScanBuilder.pushFilters]]): carry-over
  *    rows of a rewritten file must flow through the replacement.
  *  - SCOPED deletion vectors compose: the group scan applies each
  *    file's own DVs, so replacement files carry already-filtered rows
  *    (partial DV materialization) and the surviving files keep their
  *    DV coverage. Legacy UNSCOPED DVs (table-wide) still refuse — they
  *    would re-delete a MERGE-reinserted key from the fresh files.
  *  - Concurrency is optimistic: the commit CAS-publishes
  *    `baseVersion + 1`; if any other writer committed since the scan,
  *    the publish loses and the command fails with a concurrent-
  *    modification error instead of silently dropping that writer's
  *    rows (SQL semantics give no rebase hook — the user re-runs).
  *
  * Reference analog: the warehouse's SCD2 upsert jobs
  * (`build_dimensions.py:60-93`) are full-table overwrites; this is the
  * same statement surface with an O(touched-files) execution.
  */
private[sources] final class SnapshotRowLevelOperation(
    tablePath: String,
    m: SnapshotStore.Manifest,
    tableSchema: StructType,
    cmd: Command)
    extends RowLevelOperation {

  private def spark = SparkSession.active

  // SCOPED DVs compose with copy-on-write: the group scan applies each
  // file's own DVs (per-class dispatch), so replacement files carry
  // already-filtered rows and leave the manifest's DV list covering
  // only the surviving files — partial DV materialization for free.
  // Only LEGACY unscoped DVs (table-wide: they would re-delete a
  // MERGE-reinserted key from the fresh files) still refuse.
  locally {
    val unscoped = SnapshotStore.unscopedDvs(spark, m)
    if (unscoped.nonEmpty)
      throw new UnsupportedOperationException(
        s"graft-snapshot: ${cmd} on $tablePath refused: legacy deletion vector(s) " +
          s"without a file scope (${unscoped.mkString(", ")}) apply table-wide and " +
          "compose wrong with partial rewrites — run a compacting INSERT OVERWRITE " +
          "or Bucketing.compactCommit first")
  }

  /** The head version this command rewrites; the resolved relation must
    * BE the head — rewriting a time-travelled snapshot would silently
    * drop every commit after it. The DELETES list is part of the
    * identity: a concurrent DV-delete commit changes neither data nor
    * files, but a group scan planned without its DV would carry the
    * rows it deleted into the replacement files, resurrecting them. */
  private[sources] val baseVersion: Long = {
    val v = SnapshotStore.currentVersion(spark, tablePath).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $tablePath"))
    val head = SnapshotStore.manifest(spark, tablePath, v)
    if (head.data != m.data || head.files != m.files || head.deletes != m.deletes)
      throw new IllegalStateException(
        s"graft-snapshot: $cmd must target the table head; $tablePath moved to " +
          s"version $v since this relation resolved (re-run the command)")
    v
  }

  // every scan this operation built (the main group scan, plus the
  // group-filter subquery's scan); the commit takes the most-restrictive
  // scanned-file set — only the main scan ever receives a runtime filter
  private val scans = new java.util.concurrent.CopyOnWriteArrayList[SnapshotScan]()
  private[sources] def registerScan(s: SnapshotScan): Unit = scans.add(s)
  private[sources] def replacedFiles: Seq[String] = {
    val it = scala.jdk.CollectionConverters.ListHasAsScala(scans).asScala
    if (it.isEmpty) SnapshotStore.dataFiles(spark, m) // no scan built: full rewrite
    else it.map(_.scannedFiles).minBy(_.size)
  }

  override def command(): Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapshotScanBuilder(m, tableSchema, tablePath, options, rowLevelOp = this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val op = this
    new WriteBuilder {
      override def build(): Write =
        new SnapshotRowLevelWrite(tablePath, info.schema(), op)
    }
  }

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(SnapshotScan.FileCol))

  override def description(): String =
    s"graft-snapshot $cmd copy-on-write (base v$baseVersion)"
}

private[sources] final class SnapshotRowLevelWrite(
    tablePath: String, writeSchema: StructType, op: SnapshotRowLevelOperation) extends Write {
  // Spark's ReplaceData writes DATA columns only; a metadata column in
  // the write schema would mean the writer persists `_file` — refuse
  // loudly rather than corrupt
  require(!writeSchema.fieldNames.contains(SnapshotScan.FileCol),
    s"row-level write schema unexpectedly carries ${SnapshotScan.FileCol}: $writeSchema")
  override def toBatch: BatchWrite = new SnapshotRowLevelBatchWrite(tablePath, writeSchema, op)
}

private[sources] final class SnapshotRowLevelBatchWrite(
    tablePath: String, schema: StructType, op: SnapshotRowLevelOperation)
    extends BatchWrite {

  private val spark = SparkSession.active
  private val stagedDir =
    s"$tablePath/v=${op.baseVersion + 1}__${java.util.UUID.randomUUID.toString.take(8)}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val p = new Path(stagedDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
    new SnapshotWriterFactory(stagedDir, schema,
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val committed = messages.collect { case SnapshotCommitMessage(Some(f)) => f }.toSeq
    val fs = new Path(stagedDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committedNames = committed.map(f => new Path(f).getName).toSet
    fs.listStatus(new Path(stagedDir)).toSeq
      .filterNot(s => committedNames.contains(s.getPath.getName))
      .foreach(s => fs.delete(s.getPath, s.isDirectory))

    val m = SnapshotStore.manifest(spark, tablePath, op.baseVersion)
    val replaced = op.replacedFiles.toSet
    val survivors = SnapshotStore.dataFiles(spark, m).filterNot(replaced)
    val opName = op.command() match {
      case Command.MERGE  => "merge"
      case Command.UPDATE => "update"
      case Command.DELETE => "delete-cow"
    }
    // ROW-GRANULAR change sidecar (round 16): the rewrite already read
    // every touched file, so the rows that actually changed are one
    // multiset diff away — old live rows of the replaced files vs the
    // staged replacements, both ways. The change feed then streams
    // O(changed rows) for the commonest write shape (a few-row MERGE
    // into big files) instead of replaying each touched file twice.
    // Diff cost is O(touched files) at write time, charged once, here —
    // never per consumer. Map columns are not comparable (no
    // exceptAll) — decline to the file-granular cow feed rather than
    // fail the write
    def comparable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => false
      case s: StructType => s.fields.forall(f => comparable(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => comparable(a.elementType)
      case _ => true
    }
    val rowChanges: String =
      if (replaced.isEmpty || !schema.fields.forall(f => comparable(f.dataType))) ""
      else {
        val rc = s"$tablePath/_rowchanges/c_${java.util.UUID.randomUUID.toString.take(8)}"
        val cols = schema.fieldNames.toSeq.map(org.apache.spark.sql.functions.col)
        val oldRows = graft.store.ColumnMapping.applyToFrame(
          SnapshotStore.readFilesWithDvs(spark, m, replaced.toSeq), m).select(cols: _*)
        val newRows =
          if (committed.isEmpty) spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), oldRows.schema)
          else spark.read.schema(oldRows.schema).parquet(committed: _*).select(cols: _*)
        oldRows.exceptAll(newRows).write.mode("overwrite").parquet(s"$rc/removes")
        newRows.exceptAll(oldRows).write.mode("overwrite").parquet(s"$rc/inserts")
        rc
      }
    // copy-on-write sidecar: survivors' stats copy forward from the base
    // version's sidecar; only the replacement files' footers are read
    val stats = graft.store.FileStats.sidecarFor(
      spark, tablePath, survivors ++ committed, Some(m), m.statsExact)
    // DVs carry forward for the SURVIVING files (scoped — replaced
    // files' scope entries dangle harmlessly once the files leave the
    // manifest); the staged files' rows were DV-filtered by the group
    // scan, so no DV covers them and none may
    val ok = SnapshotStore.tryPublishManifest(spark, tablePath, op.baseVersion + 1,
      SnapshotStore.Manifest("", m.deletes, m.keyCols, ts = System.currentTimeMillis(),
        files = survivors ++ committed, op = opName, statsExact = m.statsExact,
        mixedSchema = m.mixedSchema, statsFile = stats,
        bloomFile = m.bloomFile, partSpec = m.partSpec, ndvFile = m.ndvFile,
        partGen = m.partGen, partHist = m.partHist,
        renames = m.renames, droppedCols = m.droppedCols,
        widens = m.widens, schemaJson = m.schemaJson,
        rowChanges = rowChanges))
    if (!ok) {
      abort(messages)
      // the row-changes sidecar was staged for the manifest that just
      // lost the CAS — nothing will ever reference it; sweep it like
      // the staged data dir (same leak shape as overwriteWhere's
      // survivor-dir sweep)
      if (rowChanges.nonEmpty) fs.delete(new Path(rowChanges), true)
      throw new java.util.ConcurrentModificationException(
        s"graft-snapshot: ${op.command()} on $tablePath lost to a concurrent commit " +
          s"of version ${op.baseVersion + 1} — re-run the command against the new head")
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val p = new Path(stagedDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }
}
