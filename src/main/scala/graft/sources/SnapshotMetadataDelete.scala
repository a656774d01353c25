package graft.sources

import graft.store.{FileStats, SnapshotStore}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, Literal => V2Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.sources._

/** Metadata-only DELETE planning for snapshot tables (the
  * `SupportsDeleteV2` path): decide from the commit's stats SIDECAR
  * alone — zero data reads, zero footer opens — whether every data
  * file is provably ALL-MATCH (each of its rows satisfies the DELETE
  * condition → drop the whole file from the manifest) or NONE-MATCH
  * (no row satisfies it → keep the file untouched). If every file
  * classifies, the DELETE is a pure manifest edit: O(files) driver
  * work, no job, no rewrite — the 100 TB shape for retention deletes
  * (`DELETE WHERE day < X` against a day-appended table drops whole
  * files). One ambiguous file → decline, and Spark falls back to the
  * copy-on-write row-level plan, which is always correct.
  *
  * Soundness notes:
  *  - ALL-MATCH needs a null-free proof for the filtered column (the
  *    sidecar's `n=` line): a null row satisfies no comparison, so a
  *    group with unknown null counts can never prove all-match.
  *  - String min/max may be writer-TRUNCATED, but truncation only
  *    WIDENS the bounds (truncated min <= real min, truncated max >=
  *    real max), and every proof below consumes bounds in the safe
  *    direction (`min > v` proves all rows `> v`; `min == max == v`
  *    pins every value), so no exactness flag is needed.
  *  - NaN never reaches the sidecar (poisoned float/double bounds are
  *    dropped at harvest), so a group holding NaN has no stats for
  *    that column and proves nothing.
  *  - A file whose schema OMITS the column (schema evolution) reads it
  *    as null everywhere: comparisons are none-match, `IS NULL` is
  *    all-match.
  */
private[sources] object SnapshotMetadataDelete {

  /** The (dropFiles, keepFiles) split, or None when any file is
    * ambiguous / any predicate is untranslatable / the sidecar doesn't
    * cover the manifest. Deterministic in (manifest, predicates) — so
    * `canDeleteWhere` and `deleteWhere` agree by construction. */
  def plan(
      spark: SparkSession,
      m: SnapshotStore.Manifest,
      predicates: Array[Predicate]): Option[(Seq[String], Seq[String])] =
    translate(predicates).flatMap(v1 => classify(spark, m, v1)).flatMap {
      case (drop, keep, ambiguous) =>
        if (ambiguous.nonEmpty) None
        // a manifest must reference at least one file — deleting EVERY
        // row routes through the row-level plan (or TRUNCATE), not here
        else if (keep.isEmpty) None
        else Some((drop, keep))
    }

  /** V2 predicates → the V1 filter shapes the classifier (and the
    * survivor rewrite) can reason about; None when any predicate
    * doesn't translate. Values stay in their EXTERNAL forms — the
    * stats comparison normalizes dates itself ([[classify]]), the
    * survivor rewrite needs the originals ([[filterColumn]]). */
  def translate(predicates: Array[Predicate]): Option[Seq[Filter]] = {
    val filters = predicates.map(toFilters)
    if (filters.exists(_.isEmpty)) return None
    val v1 = filters.flatMap(_.get).toSeq
    if (v1.forall(f => supported(normalizeDates(f)))) Some(v1) else None
  }

  /** 3-way sidecar classification under AND semantics: (all-match
    * files, none-match files, ambiguous files) — or None when the
    * sidecar can't participate at all (missing, corrupt, not covering
    * the manifest, or an exists-default makes "missing column = null"
    * unsound). Shared by metadata DELETE (requires ambiguous empty)
    * and predicate-scoped overwrite (rewrites ambiguous survivors). */
  def classify(
      spark: SparkSession,
      m: SnapshotStore.Manifest,
      rawV1: Seq[Filter]): Option[(Seq[String], Seq[String], Seq[String])] = {
    val v1 = rawV1.map(normalizeDates)
    // ANY sidecar trouble (absent, unreadable, corrupt) leaves it empty
    // and declines to the always-correct row-level plan — stats are an
    // optimization, never a correctness gate
    val sc = FileStats.sidecar(spark, m)
    val files = SnapshotStore.dataFiles(spark, m)
    if (files.isEmpty || !files.forall(sc.entries.contains)) return None
    // EXISTS_DEFAULT columns (`ADD COLUMN ... DEFAULT`, round 15): the
    // classifier's "file missing the column ⇒ all rows null" reasoning
    // is WRONG for a file predating the column — its rows legally
    // report the recorded default. A predicate referencing such a
    // column while any file lacks it physically declines to the
    // row-level plan (which reads through the fill and stays exact).
    val defCols = graft.store.ColumnMapping.existsDefaults(m).map(_._1).toSet
    if (defCols.nonEmpty) {
      val referenced = v1.flatMap(_.references).toSet.intersect(defCols)
      if (referenced.exists(c => files.exists(f => !sc.entries(f).fields.contains(c))))
        return None
    }
    val drop = Seq.newBuilder[String]
    val keep = Seq.newBuilder[String]
    val amb = Seq.newBuilder[String]
    files.foreach { f =>
      val e = sc.entries(f)
      // AND semantics: a group is all-match iff EVERY predicate holds
      // on every row; none-match iff SOME predicate fails on every row
      if (e.groups.forall(g => v1.forall(p => allMatch(p, e, g)))) drop += f
      else if (e.groups.forall(g => v1.exists(p => noneMatch(p, e, g)))) keep += f
      else amb += f
    }
    Some((drop.result(), keep.result(), amb.result()))
  }

  /** V2 Predicate → V1 Filter(s) for the shapes the classifier can
    * reason about (Spark's own converter is `private[sql]`). Literal
    * values arrive in Catalyst INTERNAL form — externalized here so
    * the stats comparisons see Strings/Dates, the same convention as
    * the pushdown path. AND flattens into conjuncts; any unconvertible
    * node declines the whole predicate. */
  private def toFilters(p: Predicate): Option[Seq[Filter]] = {
    def colOf(e: V2Expression): Option[String] = e match {
      case n: NamedReference if n.fieldNames.length == 1 => Some(n.fieldNames.head)
      case _ => None
    }
    def valOf(e: V2Expression): Option[Any] = e match {
      case l: V2Literal[_] if l.value != null =>
        Some(org.apache.spark.sql.catalyst.CatalystTypeConverters
          .convertToScala(l.value, l.dataType))
      case _ => None
    }
    def binary(mk: (String, Any) => Filter, flip: (String, Any) => Filter): Option[Seq[Filter]] = {
      val Array(a, b) = p.children()
      (colOf(a), valOf(b), valOf(a), colOf(b)) match {
        case (Some(c), Some(v), _, _) => Some(Seq(mk(c, v)))
        case (_, _, Some(v), Some(c)) => Some(Seq(flip(c, v))) // literal-first spelling
        case _                        => None
      }
    }
    p.name() match {
      case "AND" =>
        val kids = p.children().toSeq.map {
          case q: Predicate => toFilters(q)
          case _            => None
        }
        if (kids.exists(_.isEmpty)) None else Some(kids.flatMap(_.get))
      case "=" if p.children().length == 2 => binary(EqualTo, EqualTo)
      case ">" if p.children().length == 2 => binary(GreaterThan, LessThan)
      case ">=" if p.children().length == 2 => binary(GreaterThanOrEqual, LessThanOrEqual)
      case "<" if p.children().length == 2 => binary(LessThan, GreaterThan)
      case "<=" if p.children().length == 2 => binary(LessThanOrEqual, GreaterThanOrEqual)
      case "IN" if p.children().nonEmpty =>
        for {
          c <- colOf(p.children()(0))
          vs = p.children().drop(1).toSeq.map(valOf)
          if vs.nonEmpty && vs.forall(_.isDefined)
        } yield Seq(In(c, vs.flatten.toArray))
      case "IS_NULL" if p.children().length == 1 =>
        colOf(p.children()(0)).map(c => Seq(IsNull(c)))
      case "IS_NOT_NULL" if p.children().length == 1 =>
        colOf(p.children()(0)).map(c => Seq(IsNotNull(c)))
      case "ALWAYS_TRUE"  => Some(Seq(AlwaysTrue()))
      case "ALWAYS_FALSE" => Some(Seq(AlwaysFalse()))
      case _ => None
    }
  }

  /** Filter shapes the classifier can reason about; anything else
    * declines the metadata path wholesale (AND semantics mean an
    * unmodellable conjunct could still be the one that fails a row). */
  private def supported(f: Filter): Boolean = f match {
    case EqualTo(_, v)            => atomic(v)
    case GreaterThan(_, v)        => atomic(v)
    case GreaterThanOrEqual(_, v) => atomic(v)
    case LessThan(_, v)           => atomic(v)
    case LessThanOrEqual(_, v)    => atomic(v)
    case In(_, vs)                => vs.nonEmpty && vs.forall(atomic)
    case IsNull(_) | IsNotNull(_) => true
    case AlwaysTrue() | AlwaysFalse() => true
    case _                        => false
  }

  private def atomic(v: Any): Boolean = v match {
    case _: Long | _: Int | _: Short | _: Byte | _: Double | _: Float | _: String => true
    case _ => false
  }

  /** TEMPORAL predicate values compare against the sidecar's raw
    * parquet representation — epoch-day Int32 for DATE, epoch-micros
    * Int64 for TIMESTAMP (Spark always writes micros) — because the
    * retention shape (`DELETE WHERE day < X`) is the single most
    * common metadata delete at scale. Catalyst's implicit casts
    * guarantee the literal's type matches the column's, so the
    * normalized value and the stats share a representation. Legacy
    * INT96 timestamps have Binary stats the harvest never records, so
    * they decline rather than compare wrong. */
  private def normalizeDates(f: Filter): Filter = SnapshotScan.normalizeTemporal(f)

  private def cmp(a: Any, b: Any): Option[Int] = SnapshotScan.cmpAny(a, b)

  /** Every row of the group provably satisfies `f`. */
  private def allMatch(f: Filter, e: FileStats.Entry, g: FileStats.Group): Boolean = {
    if (g.rows == 0L) return true
    def proven(c: String)(check: ((Any, Any)) => Boolean): Boolean =
      e.fields.contains(c) && g.noNulls.contains(c) && g.stats.get(c).exists(check)
    f match {
      case AlwaysTrue() => true
      case EqualTo(c, v) =>
        proven(c) { case (mn, mx) => cmp(v, mn).contains(0) && cmp(v, mx).contains(0) }
      case GreaterThan(c, v) => proven(c) { case (mn, _) => cmp(mn, v).exists(_ > 0) }
      case GreaterThanOrEqual(c, v) => proven(c) { case (mn, _) => cmp(mn, v).exists(_ >= 0) }
      case LessThan(c, v) => proven(c) { case (_, mx) => cmp(mx, v).exists(_ < 0) }
      case LessThanOrEqual(c, v) => proven(c) { case (_, mx) => cmp(mx, v).exists(_ <= 0) }
      case In(c, vs) => // only the pinned-value shape is provable
        proven(c) { case (mn, mx) =>
          cmp(mn, mx).contains(0) && vs.exists(v => cmp(v, mn).contains(0)) }
      case IsNull(c) => !e.fields.contains(c) || g.allNull.contains(c)
      case IsNotNull(c) => e.fields.contains(c) && g.noNulls.contains(c)
      case _ => false
    }
  }

  /** No row of the group can satisfy `f` (a null predicate value is
    * not TRUE, so all-null / absent columns none-match comparisons). */
  private def noneMatch(f: Filter, e: FileStats.Entry, g: FileStats.Group): Boolean = {
    if (g.rows == 0L) return true
    f match {
      case AlwaysFalse() => true
      case IsNull(c) => e.fields.contains(c) && g.noNulls.contains(c)
      case IsNotNull(c) => !e.fields.contains(c) || g.allNull.contains(c)
      case EqualTo(c, _) => nullOrExcluded(c, f, e, g)
      case GreaterThan(c, _) => nullOrExcluded(c, f, e, g)
      case GreaterThanOrEqual(c, _) => nullOrExcluded(c, f, e, g)
      case LessThan(c, _) => nullOrExcluded(c, f, e, g)
      case LessThanOrEqual(c, _) => nullOrExcluded(c, f, e, g)
      case In(c, _) => nullOrExcluded(c, f, e, g)
      case _ => false
    }
  }

  private def nullOrExcluded(
      c: String, f: Filter, e: FileStats.Entry, g: FileStats.Group): Boolean =
    !e.fields.contains(c) || g.allNull.contains(c) || SnapshotScan.excludes(f, g.stats)

  /** V1 Filter → Column for the survivor rewrite — exactly the shapes
    * [[translate]] admits, over the filters' ORIGINAL (un-normalized)
    * literal values. */
  def filterColumn(f: Filter): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    f match {
      case EqualTo(c, v)            => col(c) === lit(v)
      case GreaterThan(c, v)        => col(c) > lit(v)
      case GreaterThanOrEqual(c, v) => col(c) >= lit(v)
      case LessThan(c, v)           => col(c) < lit(v)
      case LessThanOrEqual(c, v)    => col(c) <= lit(v)
      case In(c, vs)                => col(c).isin(vs.toIndexedSeq: _*)
      case IsNull(c)                => col(c).isNull
      case IsNotNull(c)             => col(c).isNotNull
      case And(l, r)                => filterColumn(l) && filterColumn(r)
      case Or(l, r)                 => filterColumn(l) || filterColumn(r)
      case Not(x)                   => !filterColumn(x)
      case other => throw new UnsupportedOperationException(
        s"graft-snapshot: unsupported overwrite predicate shape $other")
    }
  }

  /** Predicate-scoped atomic OVERWRITE (`df.writeTo(t).overwrite(cond)`
    * — the REPLACE WHERE restatement, round 15): ONE manifest
    * publishing
    *
    *   keep(none-match files) ++ survivors(ambiguous files, rows NOT
    *   matching the predicate) ++ the staged new files.
    *
    * All-match files drop whole (zero reads), none-match files move
    * zero bytes, and only genuinely ambiguous files pay a rewrite —
    * at the 100 TB day-appended shape a date-ranged restatement
    * rewrites at most the two boundary files. SQL null semantics:
    * a row whose predicate evaluates NULL is NOT replaced (survivors
    * keep it), matching DELETE's contract. Sound-or-refuse: DVs,
    * renames, widenings, and mixed spec generations refuse (compact
    * first) rather than guess. */
  def overwriteWhere(
      spark: SparkSession,
      tablePath: String,
      stagedFiles: Seq[String],
      predicates: Array[Predicate],
      maxAttempts: Int = 8): Long = {
    val v1: Seq[Filter] = translate(predicates).getOrElse(
      throw new UnsupportedOperationException(
        s"graft-snapshot: overwrite-by-predicate on $tablePath: predicate(s) " +
          s"${predicates.map(_.describe).mkString(", ")} are not translatable — use " +
          "MERGE INTO or DELETE + INSERT"))
    val survivorCond = !org.apache.spark.sql.functions.coalesce(
      v1.map(filterColumn).reduce(_ && _), org.apache.spark.sql.functions.lit(false))
    var attempt = 0
    while (attempt < maxAttempts) {
      val v = SnapshotStore.currentVersion(spark, tablePath).getOrElse(
        throw new IllegalStateException(s"no committed snapshot under $tablePath"))
      val m = SnapshotStore.manifest(spark, tablePath, v)
      require(m.deletes.isEmpty,
        s"overwrite-by-predicate on $tablePath refused: live deletion vectors — " +
          "compact (materializes DVs away) first")
      require(m.renames.isEmpty && m.widens.isEmpty,
        s"overwrite-by-predicate on $tablePath refused: live column renames/widenings " +
          "make per-file stats classification unsound — compact (full rewrite) first")
      require(m.partHist.isEmpty,
        s"overwrite-by-predicate on $tablePath refused: mixed partition-spec " +
          "generations — compact (full rewrite) first")
      val (dropped, kept, ambiguous) = classify(spark, m, v1).getOrElse(
        // no sidecar proof for ANY file: every file is ambiguous — the
        // rewrite below still answers exactly, it just reads everything
        (Nil, Nil, SnapshotStore.dataFiles(spark, m)))
      // survivors of the ambiguous files: rows the predicate does NOT
      // delete (NULL predicate keeps the row), re-routed under the
      // current partition spec so restated tables keep pruning
      val survivorDir = s"$tablePath/v=${v + 1}__ow${java.util.UUID.randomUUID.toString.take(8)}"
      val survivorFiles: Seq[String] =
        if (ambiguous.isEmpty) Nil
        else {
          val rows = SnapshotStore.readFilesRaw(spark, m, ambiguous).filter(survivorCond)
          if (m.partSpec.nonEmpty) {
            val (withCols, dirCols) = graft.store.PartitionSpec
              .withRoutingColumns(rows, m.partSpec, m.partGen)
            withCols
              .sortWithinPartitions(dirCols.map(org.apache.spark.sql.functions.col): _*)
              .write.mode("overwrite").partitionBy(dirCols: _*).parquet(survivorDir)
          } else rows.write.mode("overwrite").parquet(survivorDir)
          SnapshotStore.listStagedFiles(spark, survivorDir)
        }
      val files = kept ++ survivorFiles ++ stagedFiles
      // survivor parquet lands BEFORE the CAS publish: on a lost
      // attempt (or the empty-table refusal below) the staged dir
      // would otherwise leak unreferenced data under the table root
      // on every retry — sweep it, as the staged-write path sweeps
      // its stage dir
      def sweepSurvivorDir(): Unit = if (ambiguous.nonEmpty) {
        val p = new org.apache.hadoop.fs.Path(survivorDir)
        val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (f.exists(p)) f.delete(p, true)
      }
      if (files.isEmpty) {
        sweepSurvivorDir()
        throw new IllegalArgumentException(
          s"overwrite-by-predicate on $tablePath would empty the table — a manifest " +
            "must reference at least one file (an all-matching predicate with no new " +
            "rows is a TRUNCATE: use plain INSERT OVERWRITE)")
      }
      val exact = m.statsExact &&
        (survivorFiles.isEmpty || SnapshotStore.writerStatsExact(spark))
      val stats = FileStats.sidecarFor(spark, tablePath, files, Some(m), exact)
      if (SnapshotStore.tryPublishManifest(spark, tablePath, v + 1,
          SnapshotStore.Manifest("", Nil, Nil,
            files = files, op = "overwrite-where", statsExact = exact,
            mixedSchema = m.mixedSchema, statsFile = stats,
            // bloom/NDV sidecars are file-keyed: kept files keep their
            // entries, dropped/rewritten files' entries orphan, new
            // files are simply uncovered (re-analyze/re-index restores)
            bloomFile = m.bloomFile, ndvFile = m.ndvFile,
            // bucket/sort layout promises DROP: survivors and staged
            // files are not routed/ordered by them
            partSpec = m.partSpec, partGen = m.partGen,
            droppedCols = m.droppedCols,
            schemaJson = m.schemaJson)))
        return v + 1
      sweepSurvivorDir()
      attempt += 1 // CAS lost: the base set changed — reclassify and re-stage
    }
    throw new IllegalStateException(
      s"overwriteWhere lost $maxAttempts CAS races on $tablePath")
  }

  /** Execute the metadata delete: publish `baseVersion + 1` keeping
    * only the surviving files. DVs, bucket/sort layout, Bloom index,
    * and the schema-evolution flag all carry forward FROM THE HEAD —
    * dropping whole files invalidates none of them (a scoped DV entry
    * for a dropped file dangles harmlessly, exactly as in
    * copy-on-write commits). Returns the committed version. */
  def execute(
      spark: SparkSession,
      tablePath: String,
      m: SnapshotStore.Manifest,
      dropFiles: Seq[String],
      keepFiles: Seq[String]): Long = {
    val v = SnapshotStore.currentVersion(spark, tablePath).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $tablePath"))
    val head = SnapshotStore.manifest(spark, tablePath, v)
    if (head.data != m.data || head.files != m.files)
      throw new java.util.ConcurrentModificationException(
        s"graft-snapshot: metadata DELETE must target the table head; $tablePath moved " +
          s"to version $v since this relation resolved (re-run the command)")
    // carry-forward fields come from the HEAD, not the resolved
    // manifest: a concurrent DV-delete commit leaves data/files
    // untouched (so the pin above passes — dropping all-match files
    // stays correct, the DV only removes MORE rows), but publishing the
    // resolved manifest's stale DV list would resurrect its deletions
    val stats = FileStats.sidecarFor(spark, tablePath, keepFiles, Some(head), head.statsExact)
    val ok = SnapshotStore.tryPublishManifest(spark, tablePath, v + 1,
      SnapshotStore.Manifest("", head.deletes, head.keyCols,
        files = keepFiles, op = "delete-files", statsExact = head.statsExact,
        mixedSchema = head.mixedSchema, statsFile = stats,
        bucketCols = head.bucketCols, bucketN = head.bucketN,
        bloomFile = head.bloomFile, sortCols = head.sortCols,
        partSpec = head.partSpec, ndvFile = head.ndvFile,
        partGen = head.partGen, partHist = head.partHist,
        renames = head.renames, droppedCols = head.droppedCols,
        widens = head.widens, schemaJson = head.schemaJson))
    if (!ok) throw new java.util.ConcurrentModificationException(
      s"graft-snapshot: metadata DELETE on $tablePath lost to a concurrent commit of " +
        s"version ${v + 1} — re-run the command against the new head")
    v + 1
  }
}
