package graft.sources

import graft.store.SnapshotStore

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Metadata tables over a snapshot table, resolved by name suffix
  * through [[SnapshotCatalog]] (the Iceberg `db.table.history`-style
  * introspection surface, spelled with a `$` suffix because our
  * identifiers are path segments):
  *
  * {{{
  *   SELECT * FROM snap.dims.`nation$history`  -- one row per commit
  *   SELECT * FROM snap.dims.`nation$files`    -- current data files
  *   SELECT * FROM snap.dims.`nation$tags`     -- named version refs
  * }}}
  *
  * Both are METADATA-ONLY: `$history` reads commit markers; `$files`
  * reads the manifest + one FileStatus per data file. Row counts are
  * table-history-sized, so the rows materialize on the driver and ship
  * as one partition — the same bound as any catalog listing. */
private[sources] object MetaTables {

  def of(spark: SparkSession, root: String, kind: String): Option[Table] = kind match {
    case "history" =>
      val df = SnapshotStore.history(spark, root)
      val vs = SnapshotStore.versions(spark, root)
      val srcs = vs.map(v => SnapshotStore.manifest(spark, root, v).srcV)
      val base = df.collect().sortBy(_.getLong(0))
      val rows: Seq[Seq[Any]] = base.toSeq.zip(srcs).map { case (r, src) =>
        Seq(r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3), r.getString(4), src)
      }
      Some(new MetaRowsTable(s"$root$$history",
        StructType(Seq(
          StructField("version", LongType, nullable = false),
          StructField("commit_ts_ms", LongType, nullable = false),
          StructField("operation", StringType, nullable = false),
          StructField("n_delete_files", IntegerType, nullable = false),
          StructField("key_cols", StringType, nullable = false),
          StructField("src_version", LongType, nullable = false))),
        rows))
    case "files" =>
      val cur = SnapshotStore.currentVersion(spark, root).get
      val m = SnapshotStore.manifest(spark, root, cur)
      // per-file row counts from the stats sidecar (one cached read) —
      // absent entries report -1, never a footer open
      val sidecarRows: Map[String, Long] = graft.store.FileStats.sidecar(spark, m).entries
        .map { case (f, e) => f -> e.groups.map(_.rows).sum }
      Some(new MetaFilesTable(s"$root$$files", spark,
        SnapshotStore.dataFiles(spark, m), sidecarRows))
    case "tags" =>
      val rows: Seq[Seq[Any]] = SnapshotStore.tags(spark, root).toSeq.sortBy(_._1)
        .map { case (n, v) => Seq(n, v) }
      Some(new MetaRowsTable(s"$root$$tags",
        StructType(Seq(
          StructField("tag", StringType, nullable = false),
          StructField("version", LongType, nullable = false))),
        rows))
    case "partitions" =>
      // per-partition inventory from PURE metadata: directory names
      // give the partition tuple (under the spec generation that wrote
      // each file), the stats sidecar gives rows and data bytes — zero
      // FileStatus calls, zero footer opens. The operational "how big
      // is each day?" view a 100 TB day-appended fact needs before
      // retention/compaction decisions.
      val cur = SnapshotStore.currentVersion(spark, root).get
      val m = SnapshotStore.manifest(spark, root, cur)
      val sidecar = rowsAndBytes(spark, m) // file → (rows, bytes)
      val gens: Seq[(Seq[graft.store.PartitionSpec.PartField], Int)] =
        (m.partSpec, m.partGen) +: m.partHist.map { case (g, sp) => (sp, g) }
      def labelOf(path: String): String = {
        val segs = path.split('/')
        gens.view.flatMap { case (sp, g) =>
          if (sp.isEmpty) None
          else {
            val vals = sp.zipWithIndex.map { case (f, i) =>
              val pre = s"${graft.store.PartitionSpec.dirColName(g, i)}="
              segs.find(_.startsWith(pre)).map(seg =>
                s"${f.describe}=${seg.stripPrefix(pre)}")
            }
            if (vals.forall(_.isDefined)) Some(vals.flatten.mkString("/")) else None
          }
        }.headOption.getOrElse(if (m.partSpec.isEmpty) "<table>" else "<unrouted>")
      }
      val grouped = SnapshotStore.dataFiles(spark, m)
        .groupBy(labelOf).toSeq.sortBy(_._1)
        .map { case (label, fs) =>
          val known = fs.flatMap(sidecar.get)
          val rows = if (known.size == fs.size) known.map(_._1).sum else -1L
          val bytes = if (known.size == fs.size) known.map(_._2).sum else -1L
          Seq[Any](label, fs.size.toLong, rows, bytes)
        }
      Some(new MetaRowsTable(s"$root$$partitions",
        StructType(Seq(
          StructField("partition", StringType, nullable = false),
          StructField("n_files", LongType, nullable = false),
          StructField("rows", LongType, nullable = false), // -1 = sidecar gap
          StructField("data_bytes", LongType, nullable = false))),
        grouped))
    case "detail" =>
      // DESCRIBE-DETAIL surface (round 15): ONE metadata row with
      // everything a user needs before trusting ALTER/MERGE on a table
      // they didn't create — layout, constraints, defaults, evolution
      // state, sidecar coverage. Manifest + constraints file + one
      // cached sidecar read; zero data IO.
      val cur = SnapshotStore.currentVersion(spark, root).get
      val m = SnapshotStore.manifest(spark, root, cur)
      val files = SnapshotStore.dataFiles(spark, m)
      val sidecar = rowsAndBytes(spark, m)
      val known = files.flatMap(sidecar.get)
      val totalRows = if (known.size == files.size) known.map(_._1).sum else -1L
      val totalBytes = if (known.size == files.size) known.map(_._2).sum else -1L
      val checks = graft.store.TableChecks.read(spark, root)
        .map(c => s"${c.name} CHECK (${c.predicateSql})" +
          (if (!c.enforced) " NOT ENFORCED" else "") + (if (c.rely) " RELY" else ""))
        .mkString("; ")
      val defaults = graft.store.ColumnMapping.pinnedSchema(m).toSeq
        .flatMap(_.fields.toSeq)
        .filter(_.metadata.contains("CURRENT_DEFAULT"))
        .map(f => s"${f.name} DEFAULT ${f.metadata.getString("CURRENT_DEFAULT")}")
        .mkString("; ")
      val row: Seq[Any] = Seq(
        root,
        cur,
        m.op,
        m.ts,
        files.size.toLong,
        m.deletes.size.toLong,
        totalRows,
        totalBytes,
        graft.store.PartitionSpec.render(m.partSpec),
        m.partGen.toLong,
        (1 + m.partHist.size).toLong,
        if (m.bucketN > 0) s"bucket(${m.bucketN}, ${m.bucketCols.mkString(", ")})" else "",
        m.sortCols.mkString(", "),
        m.keyCols.mkString(", "),
        checks,
        defaults,
        m.renames.map { case (l, as) => s"$l<-${as.mkString("|")}" }.mkString("; "),
        m.droppedCols.mkString(", "),
        m.widens.map { case (c, t) => s"$c:$t" }.mkString("; "),
        m.statsExact,
        m.statsFile.nonEmpty,
        m.bloomFile.nonEmpty,
        m.ndvFile.nonEmpty,
        m.schemaJson.nonEmpty)
      Some(new MetaRowsTable(s"$root$$detail",
        StructType(Seq(
          StructField("location", StringType, nullable = false),
          StructField("version", LongType, nullable = false),
          StructField("operation", StringType, nullable = false),
          StructField("commit_ts_ms", LongType, nullable = false),
          StructField("n_data_files", LongType, nullable = false),
          StructField("n_delete_files", LongType, nullable = false),
          StructField("total_rows", LongType, nullable = false), // -1 = sidecar gap
          StructField("data_bytes", LongType, nullable = false),
          StructField("partition_spec", StringType, nullable = false),
          StructField("spec_generation", LongType, nullable = false),
          StructField("n_spec_generations", LongType, nullable = false),
          StructField("bucket_spec", StringType, nullable = false),
          StructField("sort_cols", StringType, nullable = false),
          StructField("key_cols", StringType, nullable = false),
          StructField("constraints", StringType, nullable = false),
          StructField("column_defaults", StringType, nullable = false),
          StructField("renamed_cols", StringType, nullable = false),
          StructField("dropped_cols", StringType, nullable = false),
          StructField("widened_cols", StringType, nullable = false),
          StructField("stats_exact", BooleanType, nullable = false),
          StructField("has_stats_sidecar", BooleanType, nullable = false),
          StructField("has_bloom_index", BooleanType, nullable = false),
          StructField("has_ndv_sketches", BooleanType, nullable = false),
          StructField("schema_pinned", BooleanType, nullable = false))),
        Seq(row)))
    case _ => None
  }

  /** Per-file (rows, data bytes) from the stats sidecar alone — a file
    * it lacks is absent, never a footer open. */
  private def rowsAndBytes(spark: SparkSession, m: SnapshotStore.Manifest): Map[String, (Long, Long)] =
    graft.store.FileStats.sidecar(spark, m).entries.map { case (f, e) =>
      f -> (e.groups.map(_.rows).sum, e.groups.map(_.length).sum)
    }
}

/** A tiny read-only table over driver-materialized rows (metadata
  * volumes only). Values are plain JVM types; strings convert to
  * UTF8String at read. */
private[sources] final class MetaRowsTable(
    name0: String, schema0: StructType, rows: Seq[Seq[Any]])
    extends Table with SupportsRead {
  override def name(): String = name0
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = schema0
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        Array(MetaRowsPartition(rows))
      override def createReaderFactory(): PartitionReaderFactory = new PartitionReaderFactory {
        override def createReader(p: InputPartition): PartitionReader[InternalRow] =
          new PartitionReader[InternalRow] {
            private val it = p.asInstanceOf[MetaRowsPartition].rows.iterator
            private var cur: Seq[Any] = _
            override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
            override def get(): InternalRow =
              new GenericInternalRow(cur.map {
                case s: String => UTF8String.fromString(s)
                case v         => v.asInstanceOf[Any]
              }.toArray)
            override def close(): Unit = ()
          }
      }
    }
}

private[sources] final case class MetaRowsPartition(rows: Seq[Seq[Any]]) extends InputPartition

/** `$files` as a DISTRIBUTED scan: the driver ships only PATH SLICES
  * (plus sidecar row counts, already cached); each task stats its own
  * files — at the 10⁵-files-per-table shape the per-file FileStatus
  * round-trips parallelize across the cluster instead of serializing
  * on the driver, and the rows never materialize driver-side unless
  * the user collects them. */
private[sources] final class MetaFilesTable(
    name0: String, spark: SparkSession,
    files: Seq[String], sidecarRows: Map[String, Long])
    extends Table with SupportsRead {

  private val schema0 = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("size_bytes", LongType, nullable = false),
    StructField("modified_ms", LongType, nullable = false),
    StructField("rows", LongType, nullable = false))) // -1 = no sidecar entry

  override def name(): String = name0
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val sliceSize = 1024
    val slices: Array[InputPartition] = files.grouped(sliceSize).map { fs =>
      MetaFilesPartition(fs.map(f => (f, sidecarRows.getOrElse(f, -1L))))
        : InputPartition
    }.toArray
    () => new Scan with Batch {
      override def readSchema(): StructType = schema0
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        if (slices.isEmpty) Array(MetaFilesPartition(Nil)) else slices
      override def description(): String = s"$name0 (distributed file stat)"
      // top-level factory: the anonymous Scan must not ride to executors
      // (it would drag the SparkSession-holding outer table with it)
      override def createReaderFactory(): PartitionReaderFactory =
        new MetaFilesReaderFactory(conf)
    }
  }
}

private[sources] final class MetaFilesReaderFactory(conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it = p.asInstanceOf[MetaFilesPartition].files.iterator
      private var cur: InternalRow = _
      override def next(): Boolean = {
        if (!it.hasNext) return false
        val (f, nRows) = it.next()
        val path = new Path(f)
        val st = path.getFileSystem(conf.conf).getFileStatus(path)
        cur = new GenericInternalRow(Array[Any](
          UTF8String.fromString(f), st.getLen, st.getModificationTime, nRows))
        true
      }
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
}

private[sources] final case class MetaFilesPartition(files: Seq[(String, Long)])
    extends InputPartition
