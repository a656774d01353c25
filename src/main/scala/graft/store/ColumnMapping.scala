package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col}
import org.apache.spark.sql.types.StructType

/** COLUMN NAME MAPPING resolution (`ALTER TABLE ... RENAME/DROP
  * COLUMN`, round 14 — the Iceberg-style metadata-only column
  * evolution, name-mapped instead of field-id'd):
  *
  *  - A RENAME is one manifest commit: data files are untouched, the
  *    manifest records `rename=<logical>:<older names...>`. Files
  *    written BEFORE the rename carry an old physical name; files
  *    written after carry the logical name. Readers bind per FILE:
  *    the logical column resolves to whichever alias that file
  *    actually has (exactly one — renaming onto an existing name is
  *    refused, as is re-adding a retired name).
  *  - A DROP is one manifest commit: the physical column (and every
  *    alias it ever had) joins `dropcols=`, disappearing from the
  *    logical schema. Re-ADDing a retired name is refused — the old
  *    files still hold values that would silently resurface.
  *  - A FULL REWRITE (compaction, INSERT OVERWRITE) materializes the
  *    mapping: every output file carries the logical names, and the
  *    fresh manifest starts with an empty mapping.
  *
  * ONE home for the resolution rules — the engine read path
  * ([[SnapshotStore.readVersion]]) and the DSv2 scan binding must
  * never disagree on what a logical column means. */
object ColumnMapping {

  def active(m: SnapshotStore.Manifest): Boolean =
    m.renames.nonEmpty || m.droppedCols.nonEmpty

  /** physical alias → logical name. */
  def aliasOf(m: SnapshotStore.Manifest): Map[String, String] =
    m.renames.flatMap { case (l, as) => as.map(_ -> l) }.toMap

  /** EXISTS_DEFAULT columns of the pinned logical schema: (logical
    * name, folded-literal SQL, logical type). Recorded by `ALTER TABLE
    * ... ADD COLUMN ... DEFAULT` (round 15) — files written BEFORE the
    * ALTER lack the column physically and their rows report this
    * default; files written after are physically complete (explicit
    * NULLs included), so presence-in-file is the exact dispatch.
    * CREATE TABLE-time defaults also carry the metadata, but every
    * file postdates them — the fill classifies and finds nothing. */
  def existsDefaults(
      m: SnapshotStore.Manifest): Seq[(String, String, org.apache.spark.sql.types.DataType)] =
    pinnedSchema(m).map(_.fields.toSeq.flatMap { f =>
      if (f.metadata.contains("EXISTS_DEFAULT"))
        Some((f.name, f.metadata.getString("EXISTS_DEFAULT"), f.dataType))
      else None
    }).getOrElse(Nil)

  /** The manifest-pinned LOGICAL schema (present iff a widening is
    * live — footer merge cannot reconcile narrow and wide file
    * generations, so the widen commit pinned the declared schema). */
  def pinnedSchema(m: SnapshotStore.Manifest): Option[StructType] =
    if (m.schemaJson.isEmpty) None
    else Some(org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
      .asInstanceOf[StructType])

  /** The table's LOGICAL schema for planning: the manifest-pinned
    * schema when a widening is live (ZERO footer reads — at 10⁵ files
    * the footer-merge alternative is a planning job of its own),
    * otherwise the footer union folded through the rename/drop
    * mapping. ONE home for the DSv2 provider and catalog. */
  def tableSchema(spark: org.apache.spark.sql.SparkSession,
      m: SnapshotStore.Manifest): StructType =
    pinnedSchema(m).getOrElse(
      logicalSchema(
        spark.read.option("mergeSchema", "true")
          .parquet(SnapshotStore.dataFiles(spark, m): _*).schema, m))

  /** Explicit PHYSICAL-UNION read schema for a widened table: every
    * logical field at its (wide) logical type, plus each rename alias
    * as its own field at the SAME wide type — parquet's by-name
    * binding then upcasts narrow generations natively and null-fills
    * spellings a file doesn't carry; [[applyToFrame]] folds the alias
    * columns afterwards. */
  def physicalReadSchema(logical: StructType, m: SnapshotStore.Manifest): StructType = {
    val aliasFields = m.renames.flatMap { case (l, as) =>
      logical.fields.find(_.name == l).toSeq.flatMap(f =>
        as.map(a => f.copy(name = a)))
    }
    // STRIP default metadata from the read schema: Spark's parquet
    // reader natively fills EXISTS_DEFAULT for physically-missing
    // columns, but it binds by the REQUESTED name only — a pre-rename
    // file carrying the value under an old alias would read the frozen
    // default AND the real value, and the alias coalesce would prefer
    // the default. The engine does its own rename-aware per-file fill
    // ([[SnapshotStore.boundParquet]]); the reader must stay inert.
    StructType((logical.fields ++ aliasFields).map { f =>
      if (f.metadata.contains("EXISTS_DEFAULT") || f.metadata.contains("CURRENT_DEFAULT")) {
        val b = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        b.remove("EXISTS_DEFAULT"); b.remove("CURRENT_DEFAULT")
        f.copy(metadata = b.build())
      } else f
    })
  }

  /** The LOGICAL schema over a merged physical schema: drops retired
    * columns, folds every alias into its logical name (first
    * occurrence keeps the position), renames the survivor. */
  def logicalSchema(base: StructType, m: SnapshotStore.Manifest): StructType = {
    if (!active(m)) return base
    val alias = aliasOf(m)
    val dropped = m.droppedCols.toSet
    val out = scala.collection.mutable.LinkedHashMap.empty[String, org.apache.spark.sql.types.StructField]
    base.fields.foreach { f =>
      if (!dropped.contains(f.name)) {
        val logical = alias.getOrElse(f.name, f.name)
        if (!out.contains(logical)) out(logical) = f.copy(name = logical)
      }
    }
    StructType(out.values.toSeq)
  }

  /** Engine-level logical view of a physically-mixed frame (read with
    * mergeSchema, so a renamed column appears as DISJOINT physical
    * columns — the logical value is their coalesce: exactly one of
    * them is non-null-capable per row because no file carries two
    * aliases of the same column). Preserves logical field order. */
  def applyToFrame(df: DataFrame, m: SnapshotStore.Manifest): DataFrame = {
    if (!active(m)) return df
    val present = df.schema.fieldNames.toSet
    var out = df
    m.renames.foreach { case (l, as) =>
      val have = as.filter(present)
      if (have.nonEmpty) {
        val parts = (if (present.contains(l)) Seq(l) else Nil) ++ have
        out =
          if (parts.size == 1) out.withColumnRenamed(parts.head, l)
          else out.withColumn(l, coalesce(parts.map(col): _*))
      }
    }
    val logical = logicalSchema(df.schema, m)
    out.select(logical.fieldNames.map(col).toSeq: _*)
  }
}
