package graft.sources

import graft.store.SnapshotStore

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util.{Map => JMap}

/** TableCatalog plugin over a warehouse of [[SnapshotStore]] tables —
  * the pure-SQL multi-table surface, including Spark's NATIVE time
  * travel syntax:
  *
  * {{{
  *   spark.conf: spark.sql.catalog.snap = graft.sources.SnapshotCatalog
  *               spark.sql.catalog.snap.warehouse = /data/warehouse
  *
  *   SELECT * FROM snap.sales.orders                  -- newest snapshot
  *   SELECT * FROM snap.sales.orders VERSION AS OF 3  -- commit number
  *   SELECT * FROM snap.sales.orders TIMESTAMP AS OF '2026-08-01'
  *   INSERT OVERWRITE snap.sales.orders SELECT ...    -- CAS-committed v+1
  * }}}
  *
  * Identifier → path mapping is `warehouse/namespace…/table`; a table
  * EXISTS iff its `_commits/` dir does — every birth is a version-0
  * COMMIT: `SnapshotStore.commit` / engine jobs, CTAS (v0 = the
  * SELECT), or bare `CREATE TABLE` (v0 = an empty schema-bearing
  * snapshot, so `INSERT INTO` and the streaming sink can follow in
  * pure SQL). `DROP TABLE` removes the whole snapshot tree. Catalog
  * calls are metadata-only (commit-marker listing + parquet footers);
  * no data pages are read at resolution.
  *
  * Reference analog: the Glue Data Catalog naming Athena's tables
  * (`create_views.sql:6` resolves `weather_warehouse.fact_current_
  * weather` the same way) — with snapshot versions instead of mutable
  * locations.
  */
final class SnapshotCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.ViewCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires option 'warehouse' (spark.sql.catalog.$name.warehouse)"))
  }

  override def name(): String = catalogName

  /** The warehouse root (view substitution resolves stored views from
    * it — [[graft.plans.GraftViewSubstitution]]). */
  private[graft] def warehousePath: String = warehouse

  /** Declared DDL abilities:
    *  - CHECK constraints (`ALTER TABLE ... ADD CONSTRAINT c CHECK`,
    *    routed through [[alterTable]]);
    *  - column DEFAULT values, at CREATE TABLE and (round 15) at
    *    `ALTER TABLE ... ADD COLUMN ... DEFAULT` — Spark encodes them
    *    in the schema's field metadata, the pinned `schemajson=`
    *    persists them, and Spark's own ResolveDefaultColumns fills
    *    omitted columns / DEFAULT keywords on INSERT. The ALTER form
    *    additionally records EXISTS_DEFAULT (the folded constant),
    *    which every read path substitutes for files that PREDATE the
    *    column — post-ALTER files are physically complete, so
    *    presence-in-file is the exact dispatch. */
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  // ---- FunctionCatalog: serves the `bucket` transform function so the
  // planner can resolve a bucketed table's partitioning and key-group
  // co-bucketed scans (storage-partitioned joins) -------------------
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    ("bucket" +: PartitionTransformFunction.names)
      .map(n => Identifier.of(namespace, n)).toArray

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name.equalsIgnoreCase("bucket")) BucketFunction
    else if (PartitionTransformFunction.names.contains(ident.name.toLowerCase))
      // partition transforms: resolve a write's derived clustering key
      // (hash distribution mode) — see [[PartitionTransformFunction]]
      PartitionTransformFunction(ident.name.toLowerCase)
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  // ---- ProcedureCatalog: maintenance jobs as native SQL `CALL`s
  // (`CALL cat.system.compact(table => 'ns.t')` — see
  // [[SnapshotProcedures]] for the full surface) -------------------
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(SnapshotProcedures.Namespace))
      SnapshotProcedures.names.map(n => Identifier.of(namespace, n)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    val known =
      if (ident.namespace.sameElements(SnapshotProcedures.Namespace))
        SnapshotProcedures.load(warehouse, ident.name)
      else None
    known.getOrElse(throw new UnsupportedOperationException(
      s"no procedure ${ident.namespace.mkString(".")}.${ident.name} in catalog " +
        s"$catalogName — available: ${SnapshotProcedures.names.map("system." + _).mkString(", ")}"))
  }

  // ---- ViewCatalog: persisted SQL views (`CREATE VIEW cat.ns.v AS
  // SELECT ...` → one atomic metadata file under `<ns>/_views/`; any
  // later session resolves it by name — see [[SnapshotViews]]) -------
  override def listViews(namespace: String*): Array[Identifier] =
    SnapshotViews.list(spark, warehouse, namespace.toArray)

  override def loadView(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.View =
    SnapshotViews.read(spark, warehouse, ident)
      .map(new SnapshotViews.SnapView(_))
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))

  override def viewExists(ident: Identifier): Boolean =
    SnapshotViews.exists(spark, warehouse, ident)

  override def createView(info: org.apache.spark.sql.connector.catalog.ViewInfo)
      : org.apache.spark.sql.connector.catalog.View = {
    if (tableExists(info.ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(info.ident)
    if (viewExists(info.ident))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(info.ident)
    SnapshotViews.create(spark, warehouse, info.ident, SnapshotViews.recOf(info),
      overwrite = false)
    loadView(info.ident)
  }

  override def replaceView(
      info: org.apache.spark.sql.connector.catalog.ViewInfo, orCreate: Boolean)
      : org.apache.spark.sql.connector.catalog.View = {
    if (tableExists(info.ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(info.ident)
    if (!orCreate && !viewExists(info.ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(info.ident)
    SnapshotViews.create(spark, warehouse, info.ident, SnapshotViews.recOf(info),
      overwrite = true)
    loadView(info.ident)
  }

  override def alterView(
      ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.ViewChange*)
      : org.apache.spark.sql.connector.catalog.View = {
    import org.apache.spark.sql.connector.catalog.ViewChange
    val rec = SnapshotViews.read(spark, warehouse, ident).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))
    val props = changes.foldLeft(rec.properties) {
      case (p, s: ViewChange.SetProperty)    => p + (s.property -> s.value)
      case (p, r: ViewChange.RemoveProperty) => p - r.property
      case (_, other) => throw new IllegalArgumentException(
        s"unsupported view change ${other.getClass.getSimpleName} on " +
          s"${ident.namespace.mkString(".")}.${ident.name}")
    }
    SnapshotViews.create(spark, warehouse, ident, rec.copy(properties = props),
      overwrite = true)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    SnapshotViews.drop(spark, warehouse, ident)

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val rec = SnapshotViews.read(spark, warehouse, oldIdent).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(oldIdent))
    if (tableExists(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(newIdent)
    // no-overwrite create first, then drop the old — a racing rename
    // to the same target loses the marker race; a crash between the
    // two leaves both names readable (re-run the drop), never neither
    SnapshotViews.create(spark, warehouse, newIdent,
      rec.copy(name = (newIdent.namespace :+ newIdent.name).mkString(".")),
      overwrite = false)
    SnapshotViews.drop(spark, warehouse, oldIdent)
  }

  private def spark = SparkSession.active

  private def tableRoot(ident: Identifier): String =
    (warehouse +: ident.namespace.toSeq :+ ident.name).mkString("/")

  override def tableExists(ident: Identifier): Boolean =
    SnapshotStore.versions(spark, tableRoot(ident)).nonEmpty

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path((warehouse +: namespace.toSeq).mkString("/"))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace.toSeq)
    fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && fs.exists(new Path(s.getPath, "_commits")))
      .map(s => Identifier.of(namespace, s.getPath.getName))
      .toArray
  }

  private def tableAt(ident: Identifier, version: Long): Table = {
    val root = tableRoot(ident)
    val m = SnapshotStore.manifest(spark, root, version)
    // mergeSchema: same union-schema rule as the path-based provider
    // (an evolved snapshot's data dir can mix file generations)
    new SnapshotTable(root, m, graft.store.ColumnMapping.tableSchema(spark, m))
  }

  override def loadTable(ident: Identifier): Table = {
    // metadata tables: `SELECT * FROM cat.ns.`t$history`` / `t$files` —
    // the DESCRIBE HISTORY / file-inventory introspection surface,
    // resolved entirely from commit markers + file statuses
    if (ident.name.contains("$")) {
      val base = ident.name.takeWhile(_ != '$')
      val kind = ident.name.dropWhile(_ != '$').drop(1)
      val root = (warehouse +: ident.namespace.toSeq :+ base).mkString("/")
      if (SnapshotStore.versions(spark, root).isEmpty) throw new NoSuchTableException(ident)
      // BRANCHES as first-class catalog tables — the whole
      // write-audit-publish flow in pure SQL:
      //   INSERT INTO cat.ns.`t$branch$audit` SELECT ...   (write)
      //   SELECT ... FROM  cat.ns.`t$branch$audit`         (audit)
      //   CALL cat.system.fast_forward('ns.t', 'audit')    (publish)
      // The returned table is an ordinary SnapshotTable over the
      // branch root, so every surface (scans, row-level SQL, metadata
      // columns) behaves exactly as on main.
      if (kind.startsWith("branch$")) {
        val branch = kind.stripPrefix("branch$")
        val br = SnapshotStore.branchRoot(root, branch)
        val v = SnapshotStore.currentVersion(spark, br).getOrElse(
          throw new NoSuchTableException(ident))
        val m = SnapshotStore.manifest(spark, br, v)
        return new SnapshotTable(br, m, graft.store.ColumnMapping.tableSchema(spark, m))
      }
      return MetaTables.of(spark, root, kind).getOrElse(
        throw new NoSuchTableException(ident))
    }
    val root = tableRoot(ident)
    SnapshotStore.currentVersion(spark, root) match {
      case Some(v) => tableAt(ident, v)
      case None    => throw new NoSuchTableException(ident)
    }
  }

  /** `VERSION AS OF <spec>` — a commit number or a TAG name
    * ([[SnapshotStore.createTag]]): `VERSION AS OF 'train-run-7'`
    * reads the pinned snapshot by name. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = SnapshotStore.resolveVersionSpec(spark, tableRoot(ident), version)
    if (!SnapshotStore.versions(spark, tableRoot(ident)).contains(v))
      throw new NoSuchTableException(ident)
    tableAt(ident, v)
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands epoch MICROseconds. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val root = tableRoot(ident)
    if (SnapshotStore.versions(spark, root).isEmpty)
      throw new NoSuchTableException(ident)
    tableAt(ident, SnapshotStore.versionAsOf(spark, root, timestampMicros / 1000L))
  }

  /** Bare `CREATE TABLE t (cols...)`: seeds an EMPTY version-0 commit
    * carrying the declared schema — the pure-SQL birth certificate the
    * streaming sink and `INSERT INTO` need (both require an existing
    * head to resolve schema/layout from). Honors `PARTITIONED BY
    * (bucket(n, cols))` so the very first append already routes through
    * the bucket hash. The commit goes through the same CAS marker as
    * every other birth (CTAS, engine jobs): a racing creator loses the
    * marker race, never half-creates. */
  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: JMap[String, String]): Table = {
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    if (viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    val root = tableRoot(ident)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    SnapshotCatalog.layoutOf(partitions) match {
      case (Some((cols, n)), _)       => SnapshotStore.bucketedCommit(empty, root, cols, n)
      case (None, spec) if spec.nonEmpty =>
        graft.store.PartitionSpec.validate(spec, schema)
        SnapshotStore.partitionedCommit(empty, root, spec)
      case _                          => SnapshotStore.commit(empty, root)
    }
    loadTable(ident)
  }

  /** CTAS: `CREATE TABLE <cat>.<ns>.<t> AS SELECT ...` — the query's
    * result stages as ordinary part files and `commitStagedChanges`
    * publishes version 0 through the SAME CAS marker every other commit
    * uses: the table either exists fully (v0 = the complete SELECT) or
    * not at all; a racing creator loses the marker CAS and errors.
    * Bare CREATE TABLE ([[createTable]]) seeds an empty v0 instead. */
  override def stageCreate(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: JMap[String, String]): org.apache.spark.sql.connector.catalog.StagedTable = {
    val (bucket, pspec) = SnapshotCatalog.layoutOf(partitions)
    if (pspec.nonEmpty) graft.store.PartitionSpec.validate(pspec, schema)
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    if (viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    new StagedSnapshotTable(tableRoot(ident), schema, replace = false, bucket = bucket,
      partSpec = pspec)
  }

  /** RTAS (`REPLACE TABLE ... AS SELECT`): same staging, published as
    * the next version of the existing table — an atomic full rewrite. */
  override def stageReplace(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: JMap[String, String]): org.apache.spark.sql.connector.catalog.StagedTable = {
    val (bucket, pspec) = SnapshotCatalog.layoutOf(partitions)
    if (pspec.nonEmpty) graft.store.PartitionSpec.validate(pspec, schema)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new StagedSnapshotTable(tableRoot(ident), schema, replace = true, bucket = bucket,
      partSpec = pspec)
  }

  override def stageCreateOrReplace(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: JMap[String, String]): org.apache.spark.sql.connector.catalog.StagedTable = {
    val (bucket, pspec) = SnapshotCatalog.layoutOf(partitions)
    if (pspec.nonEmpty) graft.store.PartitionSpec.validate(pspec, schema)
    new StagedSnapshotTable(tableRoot(ident), schema, replace = true, bucket = bucket,
      partSpec = pspec)
  }

  /** `ALTER TABLE t ADD COLUMNS (...)`: rides the store's existing
    * schema-evolution append — commit an EMPTY batch carrying the
    * widened schema, which marks the manifest `schema=mixed` so every
    * reader resolves the union schema (existing rows read NULL for the
    * new columns, exactly like an evolving append). Only top-level
    * NULLABLE adds are expressible this way (a NOT NULL add would be
    * instantly violated by every existing row; a position/default is a
    * metadata promise the file-resident schema can't keep) — anything
    * else keeps the refusal. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = tableRoot(ident)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    // RENAME/DROP COLUMN (round-14): metadata-only commits through the
    // store's column name mapping — zero data movement; old files bind
    // through the manifest's rename=/dropcols= lines. One change kind
    // per statement (Spark sends them that way).
    changes.toSeq match {
      // CHECK constraints (round-14): table-level metadata in
      // <table>/_constraints — write-time enforcement via
      // Table.constraints() + Spark's own CheckInvariant injection,
      // plan-time filter-contradiction pruning via TableChecks.disjoint
      case Seq(ac: TableChange.AddConstraint) =>
        ac.constraint match {
          case ck: org.apache.spark.sql.connector.catalog.constraints.Check =>
            val c = graft.store.TableChecks.Check(
              ck.name, ck.predicateSql, ck.enforced, ck.rely)
            // an enforced constraint must be born true: one validation
            // scan of the existing table, refuse on any violating row
            if (ck.enforced) graft.store.TableChecks.validateExisting(spark, root, c)
            graft.store.TableChecks.add(spark, root, c)
          case other => throw new UnsupportedOperationException(
            s"snapshot tables support CHECK constraints only " +
              s"(got ${other.getClass.getSimpleName}: ${other.toDDL})")
        }
        return loadTable(ident)
      case Seq(dc: TableChange.DropConstraint) =>
        if (!graft.store.TableChecks.drop(spark, root, dc.name) && !dc.ifExists)
          throw new IllegalArgumentException(
            s"no constraint '${dc.name}' on $ident")
        return loadTable(ident)
      case Seq(r: TableChange.RenameColumn) if r.fieldNames.length == 1 =>
        SnapshotStore.renameColumnCommit(spark, root, r.fieldNames.head, r.newName)
        return loadTable(ident)
      case Seq(d: TableChange.DeleteColumn) if d.fieldNames.length == 1 =>
        SnapshotStore.dropColumnCommit(spark, root, d.fieldNames.head)
        return loadTable(ident)
      case Seq(u: TableChange.UpdateColumnType) if u.fieldNames.length == 1 =>
        SnapshotStore.widenColumnCommit(spark, root, u.fieldNames.head, u.newDataType)
        return loadTable(ident)
      case Seq(u: TableChange.UpdateColumnDefaultValue) if u.fieldNames.length == 1 =>
        // SET DEFAULT edits CURRENT_DEFAULT only (future INSERT fills);
        // DROP DEFAULT arrives as an empty SQL string
        SnapshotStore.setDefaultCommit(spark, root, u.fieldNames.head,
          Option(u.newDefaultValue).filter(_.nonEmpty))
        return loadTable(ident)
      case _ => ()
    }
    val adds = changes.map {
      case a: TableChange.AddColumn
          if a.fieldNames.length == 1 && a.isNullable && a.position == null =>
        val base = StructField(a.fieldNames.head, a.dataType, nullable = true)
        Option(a.defaultValue) match {
          case None => base
          case Some(dv) =>
            // ADD COLUMN ... DEFAULT (round 15): a metadata-only add —
            // the pinned schema records BOTH defaults exactly as
            // Spark's CREATE TABLE path does. CURRENT_DEFAULT drives
            // ResolveDefaultColumns on future INSERTs (which land
            // physically complete); EXISTS_DEFAULT is what every
            // pre-ALTER file's rows report for the absent column — the
            // read paths dispatch on physical presence per file. Only
            // a constant-foldable default is expressible this way (the
            // exists-value is frozen at ALTER time, by definition).
            val cl = dv.getValue
            if (cl == null) throw new UnsupportedOperationException(
              s"ALTER TABLE $ident ADD COLUMN ${a.fieldNames.head}: DEFAULT " +
                s"${dv.getSql} is not a constant literal — a metadata-only add " +
                "freezes the exists-default at ALTER time, so only constants are " +
                "expressible (rewrite the table to materialize a computed value)")
            val lit = org.apache.spark.sql.catalyst.expressions.Literal(cl.value, cl.dataType)
            val folded =
              if (lit.dataType == a.dataType) lit
              else org.apache.spark.sql.catalyst.expressions.Literal(
                org.apache.spark.sql.catalyst.expressions.Cast(
                  lit, a.dataType, Some("UTC")).eval(null), a.dataType)
            base.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
              .putString("CURRENT_DEFAULT", dv.getSql)
              .putString("EXISTS_DEFAULT", folded.sql)
              .build())
        }
      case other => throw new UnsupportedOperationException(
        s"snapshot tables support ALTER TABLE ... ADD COLUMNS (top-level nullable, " +
          s"no position; constant DEFAULT allowed), RENAME COLUMN, DROP COLUMN, and ALTER COLUMN ... " +
          s"TYPE widening (byte/short -> int, byte/short/int -> bigint, float -> double) of top-level columns — " +
          s"anything else needs a full rewrite (REPLACE TABLE ... AS SELECT); got $other")
    }
    val head = SnapshotStore.currentVersion(spark, root)
      .map(v => SnapshotStore.manifest(spark, root, v))
    val retired = head.map(SnapshotStore.retiredCols).getOrElse(Set.empty) ++
      head.map(_.droppedCols.toSet).getOrElse(Set.empty)
    val recycled = adds.map(_.name).filter(n => retired.exists(_.equalsIgnoreCase(n)))
    if (recycled.nonEmpty) throw new IllegalArgumentException(
      s"ALTER TABLE $ident: column name(s) ${recycled.mkString(", ")} were retired by " +
        "an earlier RENAME/DROP COLUMN — old files still hold values under them, which " +
        "would resurface; compact (full rewrite) first to release the name")
    val cur = SnapshotStore.read(spark, root).schema
    val dup = adds.map(_.name.toLowerCase).intersect(cur.fieldNames.map(_.toLowerCase).toSeq)
    if (dup.nonEmpty) throw new IllegalArgumentException(
      s"ALTER TABLE $ident: column(s) already exist: ${dup.mkString(", ")}")
    val widened = StructType(cur.fields ++ adds)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], widened)
    SnapshotStore.appendCommit(empty, root)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = new Path(tableRoot(ident))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(root) && fs.delete(root, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("rename is not supported for snapshot tables")
}

private[sources] object SnapshotCatalog {
  /** Parse `PARTITIONED BY` transforms into the two layouts snapshot
    * tables support:
    *  - a SINGLE `bucket(n, cols...)` over top-level columns (rows
    *    co-locate by key; the scan reports the matching
    *    KeyGroupedPartitioning for storage-partitioned joins), or
    *  - a PARTITION-TRANSFORM spec ([[graft.store.PartitionSpec]]):
    *    any combination of `identity(col)` / `days(col)` /
    *    `months(col)` / `years(col)` / `hours(col)` / `truncate(w,
    *    col)` — rows route into hive-style partition directories and
    *    the scan prunes them from pushed predicates before stats run.
    * Mixing bucket with transforms is refused (a bucket layout is an
    * all-files zip contract; partition transforms are per-file). */
  def layoutOf(partitions: Array[Transform])
      : (Option[(Seq[String], Int)], Seq[graft.store.PartitionSpec.PartField]) = {
    import graft.store.PartitionSpec.PartField
    if (partitions.isEmpty) return (None, Nil)
    def colsOf(t: Transform): Seq[String] = t.arguments.toSeq.collect {
      case r: org.apache.spark.sql.connector.expressions.NamedReference =>
        require(r.fieldNames.length == 1,
          s"partition columns must be top-level, got ${r.describe}")
        r.fieldNames.head
    }
    def intArg(t: Transform): Int = t.arguments.collectFirst {
      case l: org.apache.spark.sql.connector.expressions.Literal[_]
          if l.value.isInstanceOf[Int] => l.value.asInstanceOf[Int]
    }.getOrElse(throw new IllegalArgumentException(
      s"${t.name} transform without an integer argument: ${t.describe}"))
    if (partitions.exists(_.name == "bucket")) {
      if (partitions.length > 1) throw new UnsupportedOperationException(
        "snapshot tables cannot mix bucket(n, cols...) with other PARTITIONED BY " +
          "transforms — bucket is an all-files co-location contract")
      val t = partitions.head
      val cols = colsOf(t)
      require(cols.nonEmpty, s"bucket transform without columns: ${t.describe}")
      (Some((cols, intArg(t))), Nil)
    } else {
      val spec = partitions.toSeq.map { t =>
        def one: String = colsOf(t) match {
          case Seq(c) => c
          case other => throw new IllegalArgumentException(
            s"${t.name} takes exactly one column, got $other")
        }
        t.name match {
          case "identity" => PartField("identity", one)
          case "years" | "months" | "days" | "hours" => PartField(t.name, one)
          case "truncate" => PartField("truncate", one, intArg(t))
          case other => throw new UnsupportedOperationException(
            s"snapshot tables support PARTITIONED BY bucket(n, cols...), identity, " +
              s"years/months/days/hours, truncate(w, col); got $other (${t.describe})")
        }
      }
      (None, spec)
    }
  }
}

/** The staged side of CTAS/RTAS: collects the query's committed part
  * files through the ordinary snapshot writer, then publishes them as
  * ONE file-granular manifest when Spark calls `commitStagedChanges` —
  * before that marker rename the table (or the new version) does not
  * exist for any reader. */
private[sources] final class StagedSnapshotTable(
    root: String, tableSchema: StructType, replace: Boolean,
    bucket: Option[(Seq[String], Int)] = None,
    partSpec: Seq[graft.store.PartitionSpec.PartField] = Nil)
    extends org.apache.spark.sql.connector.catalog.StagedTable
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
  import graft.store.SnapshotStore

  bucket.foreach { case (cols, n) =>
    require(n > 0, s"bucket count must be positive, got $n")
    val missing = cols.filterNot(c => tableSchema.fieldNames.exists(_.equalsIgnoreCase(c)))
    require(missing.isEmpty,
      s"bucket columns ${missing.mkString(", ")} not in the CTAS schema ${tableSchema.fieldNames.mkString(", ")}")
  }

  private def spark = SparkSession.active
  private val stagedDir =
    s"$root/v=${SnapshotStore.currentVersion(spark, root).map(_ + 1).getOrElse(0L)}__${java.util.UUID.randomUUID.toString.take(8)}"
  @volatile private var stagedFiles: Seq[String] = Nil

  override def name(): String = root
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCapability.BATCH_WRITE,
      org.apache.spark.sql.connector.catalog.TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
    override def truncate(): WriteBuilder = this // RTAS truncates; staging is already a replace
    override def build(): Write = new Write with BucketDistribution {
      // a bucketed/partitioned CTAS shares the write-side routing
      // contract with the INSERT/streaming paths ([[BucketDistribution]]
      // — one home)
      override def bucketSpec: Option[(Seq[String], Int)] = bucket
      override def partSpec: Seq[graft.store.PartitionSpec.PartField] =
        StagedSnapshotTable.this.partSpec
      override def toBatch: BatchWrite = new BatchWrite {
        override def createBatchWriterFactory(pInfo: PhysicalWriteInfo): DataWriterFactory = {
          val p = new Path(stagedDir)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
          new SnapshotWriterFactory(stagedDir, info.schema(),
            new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration),
            StagedSnapshotTable.this.partSpec)
        }
        // files are recorded only; visibility waits for commitStagedChanges.
        // Stray files from lost task attempts are deleted now, exactly
        // like the direct write path
        override def commit(messages: Array[WriterCommitMessage]): Unit = {
          stagedFiles = SnapshotWriteUtil.committedFiles(messages)
          val sd = new Path(stagedDir)
          val fs = sd.getFileSystem(spark.sparkContext.hadoopConfiguration)
          SnapshotWriteUtil.sweepStaged(fs, sd,
            stagedFiles.map(f => new Path(f).getName).toSet)
        }
        override def abort(messages: Array[WriterCommitMessage]): Unit = ()
      }
    }
  }

  override def commitStagedChanges(): Unit = {
    val (bCols, bN) = bucket.getOrElse((Seq.empty[String], 0))
    if (replace) {
      // SnapshotDataWriter never truncates stats
      SnapshotStore.rewriteFilesCommit(spark, root, stagedFiles, statsExact = true,
        bucketCols = bCols, bucketN = bN, partSpec = partSpec,
        schema = Some(tableSchema))
      ()
    } else {
      val stats = graft.store.FileStats.sidecarFor(spark, root, stagedFiles, None, exact = true)
      if (!SnapshotStore.tryPublishManifest(spark, root, 0L,
          SnapshotStore.Manifest("", Nil, Nil, ts = System.currentTimeMillis(),
            files = stagedFiles, op = "ctas", statsExact = true, statsFile = stats,
            bucketCols = bCols, bucketN = bN, partSpec = partSpec,
            schemaJson = SnapshotStore.pinnedJson(tableSchema)))) {
        abortStagedChanges()
        throw new IllegalStateException(
          s"CREATE TABLE AS SELECT lost a concurrent-create race on $root " +
            "(the table now exists; use CREATE OR REPLACE to overwrite)")
      }
    }
  }

  override def abortStagedChanges(): Unit = {
    val p = new Path(stagedDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }
}
