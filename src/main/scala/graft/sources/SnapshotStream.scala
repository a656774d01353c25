package graft.sources

import graft.store.SnapshotStore

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Change-feed streaming source over a [[SnapshotStore]] table — each
  * committed VERSION is one atomic micro-batch:
  *
  * {{{
  *   spark.readStream.format("graft-snapshot")
  *     .option("path", t).option("changeFeed", "true").load()
  * }}}
  *
  * Batch semantics (the store's three commit shapes map directly):
  *  - a commit that REWRITES the data (overwrite/merge/compaction)
  *    emits the full new image: every live row with
  *    `_change_type = 'snapshot'` — consumers replace their state;
  *  - an APPEND COMMIT (file-granular superset manifest) emits ONLY
  *    the newly added files' rows with `_change_type = 'insert'` —
  *    O(new data), never a table image;
  *  - a COPY-ON-WRITE commit (SQL MERGE/UPDATE/DELETE — file-granular
  *    manifests sharing the untouched files) emits the replaced files'
  *    old rows as `'remove'` plus the staged files' rows as `'insert'`
  *    — O(touched files); consumers apply state − removes + inserts
  *    (carry-over rows cancel between the two sides);
  *  - a DELETE COMMIT (same data identity, new deletion-vector file)
  *    emits ONLY the delta keys with `_change_type = 'delete'` (non-key
  *    columns null) — consumers drop those keys. O(deleted-keys) rows,
  *    never a table rescan.
  *
  * Both carry `_commit_version`. Offsets are commit versions, so
  * restart-from-checkpoint resumes exactly after the last processed
  * commit — versions are CAS-serialized, making the feed gap-free and
  * replayable (time travel serves any batch again).
  *
  * `startingVersion` option: number (emit that version's image first),
  * or `latest` (only future commits). Default: the current version's
  * image is the first batch (initial load).
  *
  * `maxFilesPerTrigger` option — ADMISSION CONTROL: without it, a
  * stream that falls behind (or starts fresh against a long history)
  * reads every pending commit in ONE micro-batch — at the 100 TB shape
  * that is an unbounded batch the cluster may not survive. With it,
  * each trigger admits whole COMMITS (batch atomicity per commit is
  * the feed's contract — a partially-emitted commit would hand
  * consumers a torn image) until the admitted versions' cumulative
  * data-file count would exceed the budget; always at least one commit
  * per trigger so the stream can never stall. Works with
  * `Trigger.AvailableNow` natively (the catch-up target is pinned once
  * at stream start, then drained budget-sized batch by batch).
  */
private[sources] final class SnapshotMicroBatchStream(
    tablePath: String,
    tableSchema: StructType,
    options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private def spark = SparkSession.active
  private def conf = spark.sparkContext.hadoopConfiguration

  // committed manifests are immutable per version, so both caches are
  // safe across triggers — each version costs ONE marker read and (for
  // dir-granular manifests) ONE data-dir listing over the stream's whole
  // lifetime, instead of O(history) round-trips per micro-batch
  private val manifestCache =
    scala.collection.mutable.Map.empty[Long, SnapshotStore.Manifest]
  private val fileSetCache = scala.collection.mutable.Map.empty[Long, Seq[String]]
  // per-version DV-scope class layout (file → class, class → DV subset)
  // — consulted by image planning AND the lookup builder, so both see
  // the identical class numbering
  private val classLayoutCache =
    scala.collection.mutable.Map.empty[Long, Seq[(Seq[Int], Seq[String])]]
  private def classLayoutOf(v: Long): Seq[(Seq[Int], Seq[String])] =
    classLayoutCache.getOrElseUpdate(v,
      SnapshotStore.dvClasses(spark, manifestOf(v), filesOf(v)))
  private def manifestOf(v: Long): SnapshotStore.Manifest =
    manifestCache.getOrElseUpdate(v, SnapshotStore.manifest(spark, tablePath, v))
  private def filesOf(v: Long): Seq[String] =
    fileSetCache.getOrElseUpdate(v, SnapshotStore.dataFiles(spark, manifestOf(v)))

  /** Commit kind of version `v` relative to its predecessor — drives
    * which delta (if any) the batch can carry:
    *  - `delete`: same data identity, new deletion vectors → key delta
    *  - `insert`: file-granular superset with an UNCHANGED DV set → the
    *    NEW files only (an [[SnapshotStore.appendCommit]]; scoped DVs
    *    never cover staged files)
    *  - `cow`: file-granular with a SHARED file subset and an UNCHANGED
    *    DV set (a copy-on-write MERGE/UPDATE/DELETE, a metadata
    *    delete) → the replaced files' old LIVE rows stream as
    *    `'remove'` (predecessor's DVs applied) and the staged files'
    *    rows as `'insert'` — O(touched files), never a table image
    *  - `image`: anything else (full rewrite/compaction), and any
    *    version whose predecessor is unknown (first version, or
    *    vacuumed past — the image is always a safe anchor) */
  private def classify(v: Long, vs: Seq[Long]): String = {
    if (!vs.contains(v - 1)) return "image"
    val prev = manifestOf(v - 1)
    val m = manifestOf(v)
    if (m.data == prev.data && m.files == prev.files) "delete"
    // appends are insert-deltas even over LIVE deletion vectors, as
    // long as the DV set is UNCHANGED across the commit: DV scopes are
    // fixed at delete time, so the new files are covered by none
    else if (m.files.nonEmpty && m.deletes == prev.deletes &&
        filesOf(v - 1).toSet.subsetOf(m.files.toSet)) "insert"
    // a commit carrying a ROW-CHANGES sidecar is a cow delta by
    // construction — even when the rewrite touched EVERY file (no
    // shared subset left to witness it); the sidecar holds exactly the
    // changed rows, diffed against this very predecessor
    else if (m.rowChanges.nonEmpty && m.files.nonEmpty &&
        m.deletes == prev.deletes) "cow"
    // copy-on-write stays a file delta over LIVE (unchanged) deletion
    // vectors too: the remove side replays the replaced files' rows
    // with the PREDECESSOR's scoped DVs applied (so already-deleted
    // rows are never spuriously removed), and staged files carry
    // DV-filtered rows by the group scan's construction. Without this
    // a 1-row MERGE on a DV-bearing 100 TB table would re-emit the
    // whole table image downstream.
    else if (m.files.nonEmpty && m.deletes == prev.deletes &&
        filesOf(v - 1).toSet.intersect(m.files.toSet).nonEmpty) "cow"
    // a merge-on-read commit GROWS both sides atomically: new files
    // (inserts/updates) plus a new scoped DV (deleted/updated keys) —
    // the delta is O(keys + new files), never an image
    else if (m.files.nonEmpty && filesOf(v - 1).toSet.subsetOf(m.files.toSet) &&
        prev.deletes.toSet.subsetOf(m.deletes.toSet)) "delta"
    else "image"
  }

  /** Newest version at or before `v` whose batch is a full IMAGE.
    * Anchoring the stream here keeps the documented protocol sound even
    * when the head (or `startingVersion`) is a delete or append commit:
    * consumers always see the base image before its deltas. */
  private def imageBaseOf(v: Long): Long = {
    val vs = SnapshotStore.versions(spark, tablePath)
    vs.filter(_ <= v).reverse
      .find(x => classify(x, vs) == "image")
      .getOrElse(vs.head)
  }

  override def initialOffset(): Offset = {
    val current = SnapshotStore.currentVersion(spark, tablePath).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $tablePath"))
    Option(options.get("startingVersion")) match {
      case Some("latest") => SnapshotVersionOffset(current)
      case Some(v)        => SnapshotVersionOffset(imageBaseOf(v.toLong) - 1)
      case None =>
        // startingTimestamp: anchor at the first commit at/after the
        // instant (same image-base anchoring as a numeric start)
        Option(options.get("startingTimestamp")) match {
          case Some(ts) => SnapshotVersionOffset(
            imageBaseOf(SnapshotStream.parseTs(ts, tablePath, spark)) - 1)
          case None => SnapshotVersionOffset(imageBaseOf(current) - 1)
        }
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  /** `Trigger.AvailableNow` catch-up target, pinned ONCE at stream
    * start: later commits belong to the next run. */
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(
      SnapshotStore.currentVersion(spark, tablePath).getOrElse(-1L))

  override def getDefaultReadLimit: ReadLimit =
    Option(options.get("maxFilesPerTrigger")) match {
      case Some(n) =>
        val parsed = n.toIntOption
        require(parsed.exists(_ > 0),
          s"maxFilesPerTrigger must be a positive integer, got '$n'")
        ReadLimit.maxFiles(parsed.get)
      case None => ReadLimit.allAvailable()
    }

  /** Data files a version's micro-batch reads — the admission cost. */
  private def costOf(v: Long, allVersions: Seq[Long]): Int = {
    val m = manifestOf(v)
    classify(v, allVersions) match {
      case "delete" => // delta DV dirs: one small key file each
        m.deletes.count(d => !manifestOf(v - 1).deletes.contains(d)).max(1)
      case "insert" =>
        m.files.count(!filesOf(v - 1).toSet.contains(_)).max(1)
      case "delta" =>
        (m.files.count(!filesOf(v - 1).toSet.contains(_)) +
          m.deletes.count(!manifestOf(v - 1).deletes.contains(_))).max(1)
      case "cow" if m.rowChanges.nonEmpty =>
        (rowChangeFiles(m.rowChanges, "removes").size +
          rowChangeFiles(m.rowChanges, "inserts").size).max(1)
      case "cow" =>
        val prev = filesOf(v - 1).toSet
        val cur = m.files.toSet
        ((prev -- cur).size + (cur -- prev).size).max(1)
      case _ => filesOf(v).size.max(1)
    }
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val head0 = SnapshotStore.currentVersion(spark, tablePath).getOrElse(-1L)
    val head = availableNowCap.fold(head0)(math.min(_, head0))
    val from = start.asInstanceOf[SnapshotVersionOffset].v
    limit match {
      case mf: ReadMaxFiles if head > from =>
        // walk the RETAINED versions, not from+1 arithmetic: a stream
        // that fell behind vacuum would otherwise crash on the missing
        // manifest here instead of reaching planInputPartitions'
        // retention guard (which names the fix)
        val allVersions = SnapshotStore.versions(spark, tablePath)
        val pending = allVersions.filter(v => v > from && v <= head)
        if (pending.isEmpty) return SnapshotVersionOffset(head)
        var budget = mf.maxFiles().toLong - costOf(pending.head, allVersions)
        var to = pending.head // whole commits only; at least one — no stalls
        pending.drop(1).iterator.takeWhile { v =>
          val c = costOf(v, allVersions)
          val fits = c <= budget
          if (fits) { budget -= c; to = v }
          fits
        }.foreach(_ => ())
        SnapshotVersionOffset(to)
      case _ => SnapshotVersionOffset(head)
    }
  }

  /** True head for progress reporting, independent of admission. */
  override def reportLatestOffset(): Offset =
    SnapshotVersionOffset(
      SnapshotStore.currentVersion(spark, tablePath).getOrElse(-1L))

  override def deserializeOffset(json: String): Offset =
    SnapshotVersionOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[SnapshotVersionOffset].v
    val to = end.asInstanceOf[SnapshotVersionOffset].v
    // ONE commit-dir listing per trigger; manifests resolve through the
    // cross-trigger cache, and only for versions in (from, to] plus the
    // single predecessor classification needs
    val allVersions = SnapshotStore.versions(spark, tablePath)
    val versions = allVersions.filter(v => v > from && v <= to)
    // retention guard: versions are CAS-dense, so a gap right after the
    // checkpointed offset means vacuum collected commits this stream
    // never processed — silent emptiness would be data loss downstream
    if (versions.nonEmpty && from >= 0 && versions.head != from + 1)
      throw new IllegalStateException(
        s"graft-snapshot change feed fell behind vacuum retention on $tablePath: " +
          s"versions ${from + 1}..${versions.head - 1} were vacuumed before this " +
          "stream processed them. Increase SnapshotStore.vacuum(keep=) so retention " +
          "outlives the slowest consumer, or restart the stream from a fresh " +
          "checkpoint to take a new base image.")
    val imageVersions = scala.collection.mutable.ArrayBuffer.empty[Long]
    // versions whose DV lookup the READERS need: image versions apply
    // their own DVs; cow remove-batches apply their PREDECESSOR's
    val dvVersions = scala.collection.mutable.ArrayBuffer.empty[Long]
    val parts = versions.flatMap { v =>
      val m = manifestOf(v)
      classify(v, allVersions) match {
        case "delete" =>
          // delete commit: the DELTA deletion-vector entries only
          dvDeltaPartitions(m, v)
        case "insert" =>
          // append commit: ONLY the newly added files stream, tagged
          // 'insert' — O(new data) rows, never a table image (appends
          // carry no DVs by construction, so no lookup is needed)
          val prevFiles = filesOf(v - 1).toSet
          rowGroupPartitions(m, v, m.files.filterNot(prevFiles), "insert")
        case "delta" =>
          // merge-on-read commit: the new DV's keys stream as 'delete'
          // and the fresh files as 'insert'. Within the batch consumers
          // apply deletes BEFORE inserts — an updated key appears on
          // both sides and must land at its new row.
          val prevFiles = filesOf(v - 1).toSet
          dvDeltaPartitions(m, v) ++
            rowGroupPartitions(m, v, m.files.filterNot(prevFiles), "insert")
        case "cow" if m.rowChanges.nonEmpty =>
          // ROW-GRANULAR sidecar (round 16): the commit already diffed
          // old-vs-new over its touched files and persisted exactly the
          // changed rows — stream those ('remove' pre-images, 'insert'
          // post-images), O(changed rows) instead of every touched file
          // twice. Same consumer algebra (state − removes + inserts);
          // no DV lookup needed (the diff was DV-filtered at write).
          rowGroupPartitions(m, v, rowChangeFiles(m.rowChanges, "removes"), "remove") ++
            rowGroupPartitions(m, v, rowChangeFiles(m.rowChanges, "inserts"), "insert")
        case "cow" =>
          // copy-on-write commit (SQL MERGE/UPDATE/DELETE, metadata
          // delete): untouched files are SHARED between the manifests,
          // so the delta is the replaced files' old LIVE rows ('remove'
          // — full-row identity with the predecessor's scoped DVs
          // applied; the files are still on disk until vacuum) plus the
          // staged files' rows ('insert'). Carry-over rows appear in
          // both and cancel; consumers apply state − removes + inserts.
          val prevFiles = filesOf(v - 1)
          val curFiles = m.files.toSet
          val removed = prevFiles.filterNot(curFiles)
          val prevM = manifestOf(v - 1)
          val prevClassOf: Map[String, Int] =
            if (prevM.deletes.isEmpty) Map.empty
            else {
              dvVersions += (v - 1)
              classLayoutOf(v - 1).zipWithIndex
                .flatMap { case ((_, fs), i) => fs.map(_ -> i) }.toMap
            }
          rowGroupPartitions(prevM, v, removed, "remove",
            f => prevClassOf.getOrElse(f, 0), dvVersion = v - 1) ++
            rowGroupPartitions(m, v, m.files.filterNot(prevFiles.toSet), "insert")
        case _ =>
          // new image: every row group of the version's data files,
          // with the version's OWN deletion vectors applied (scoped
          // per file class when appends interleaved with deletes)
          imageVersions += v
          if (m.deletes.nonEmpty) dvVersions += v
          val classOf: Map[String, Int] =
            if (m.deletes.isEmpty) Map.empty
            else classLayoutOf(v).zipWithIndex
              .flatMap { case ((_, fs), i) => fs.map(_ -> i) }.toMap
          rowGroupPartitions(m, v, filesOf(v), "snapshot",
            f => classOf.getOrElse(f, 0), dvVersion = v)
      }
    }
    plannedDvVersions = dvVersions.distinct.toSeq
    parts.toArray
  }

  /** Part files of one side of a row-changes sidecar (absent side —
    * e.g. a pure DELETE's empty inserts — is just no files). */
  private def rowChangeFiles(rc: String, side: String): Seq[String] = {
    val dp = new Path(s"$rc/$side")
    val fsys = dp.getFileSystem(conf)
    if (!fsys.exists(dp)) Nil
    else fsys.listStatus(dp).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
  }

  /** 'delete' partitions for version `v`'s NEW deletion-vector entries
    * (each is a parquet DIRECTORY; expand to its part files). */
  private def dvDeltaPartitions(
      m: SnapshotStore.Manifest, v: Long): Seq[SnapshotStreamPartition] = {
    val prev = manifestOf(v - 1)
    m.deletes.filterNot(prev.deletes.toSet).flatMap { d =>
      DvLookup.partFiles(d, conf).map(f => SnapshotStreamPartition(
        SnapshotInputPartition(f.getPath.toString, 0L, Long.MaxValue, 0L),
        changeType = "delete", version = v))
    }
  }

  /** Row-group partitions over the given data files (no skipping — a
    * change feed emits everything), tagged with the batch kind.
    * `dvVersion` names the version whose deletion vectors the reader
    * must apply (-1 = none): the partition's own version for images,
    * the PREDECESSOR for cow remove-batches. */
  private def rowGroupPartitions(
      m: SnapshotStore.Manifest, v: Long, files: Seq[String],
      changeType: String, dvClassOf: String => Int = _ => 0,
      dvVersion: Long = -1L): Seq[SnapshotStreamPartition] = {
    val stats = graft.store.FileStats.entries(spark, m, files).entries
    files.flatMap { f =>
      stats(f).groups.map { g =>
        SnapshotStreamPartition(
          SnapshotInputPartition(f, g.start, g.length, g.rows, dvClass = dvClassOf(f)),
          changeType = changeType, version = v, dvVersion = dvVersion)
      }
    }
  }

  /** Per-version DV lookups, broadcast once each and cached until the
    * version is COMMITTED past — only IMAGE batches need them (delete
    * batches read delta key FILES directly), so only image versions
    * ever build one: a delete micro-batch never pays the O(|DV|)
    * driver decode. */
  private val lookupCache = scala.collection.mutable.Map.empty[Long, Option[StreamDv]]
  private def lookupFor(v: Long): Option[StreamDv] =
    lookupCache.getOrElseUpdate(v, {
      val m = manifestOf(v)
      if (m.deletes.isEmpty) None
      else {
        // decoded and probed at the stream's table types
        val keyTypes = SnapshotScan.keyTypesOf(tableSchema, m.keyCols)
        Some(StreamDv(m.keyCols, keyTypes, spark.sparkContext.broadcast(
          classLayoutOf(v).map { case (idx, _) =>
            if (idx.isEmpty) null
            else SnapshotScan.loadDvLookup(spark, idx.map(m.deletes), m.keyCols, keyTypes)
          }.toArray)))
      }
    })
  @volatile private var plannedDvVersions: Seq[Long] = Nil

  override def createReaderFactory(): PartitionReaderFactory = {
    val versions = plannedDvVersions
    val lookups = versions.flatMap(v => lookupFor(v).map(v -> _)).toMap
    new SnapshotStreamReaderFactory(tableSchema, lookups,
      new SerializableHadoopConf(SnapshotScan.readerHadoopConf(spark, conf)))
  }

  /** Processed-through watermark: lookups for versions at or before
    * `end` can never be planned again — evict so a long-running stream
    * doesn't accumulate one full-DV broadcast per processed version. */
  override def commit(end: Offset): Unit = {
    val upTo = end.asInstanceOf[SnapshotVersionOffset].v
    lookupCache.filterInPlace { (v, b) =>
      val keep = v > upTo
      if (!keep) b.foreach(_.lookups.unpersist(false))
      keep
    }
    // manifest/file caches: keep upTo itself — it is the predecessor the
    // next batch's classification reads — and drop everything older
    manifestCache.filterInPlace((v, _) => v >= upTo)
    fileSetCache.filterInPlace((v, _) => v >= upTo)
    classLayoutCache.filterInPlace((v, _) => v >= upTo)
  }
  override def stop(): Unit = ()
}

private[sources] object SnapshotStream {
  /** `startingTimestamp` → the version it names: epoch millis or
    * 'yyyy-MM-dd HH:mm:ss' UTC, resolved to the FIRST commit at/after
    * the instant (shared by the stream and the batch change feed). */
  def parseTs(s: String, tablePath: String, spark: SparkSession): Long = {
    val millis = s.toLongOption.getOrElse {
      java.time.LocalDateTime.parse(s.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }
    SnapshotStore.versionSince(spark, tablePath, millis)
  }
}

private[sources] final case class SnapshotVersionOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

/** Batch adapter over the stream's change planning: one `spark.read`
  * returns the deltas of versions `(fromExclusive, to]` — the
  * `table_changes(start, end)` shape. Reuses the micro-batch planner
  * verbatim so batch and stream can never disagree on a version's
  * delta, including the vacuum-retention guard. */
private[sources] final class SnapshotChangeBatch(
    stream: SnapshotMicroBatchStream, fromExclusive: Long, to: Long)
    extends org.apache.spark.sql.connector.read.Batch {
  // planning populates the stream's image-version state the reader
  // factory consumes; Spark always plans before building the factory,
  // and the lazy val makes the ordering structural
  private lazy val parts = stream.planInputPartitions(
    SnapshotVersionOffset(fromExclusive), SnapshotVersionOffset(to))
  override def planInputPartitions(): Array[InputPartition] = parts
  override def createReaderFactory(): PartitionReaderFactory = {
    parts // force planning
    stream.createReaderFactory()
  }
}

/** One version's deletion vectors as the stream's readers probe them:
  * the key columns, their table types, and the per-class lookups. */
private[sources] final case class StreamDv(
    keyCols: Seq[String], keyTypes: Seq[DataType],
    lookups: org.apache.spark.broadcast.Broadcast[Array[DvLookup]])

private[sources] final case class SnapshotStreamPartition(
    base: SnapshotInputPartition, changeType: String, version: Long,
    dvVersion: Long = -1L) extends InputPartition

/** Reads every change batch as rows of the table schema followed by
  * (_change_type, _commit_version), which the decoder serves as
  * constant columns ([[SnapshotRowReader]] over
  * [[SnapshotBatchDecoder]]). Snapshot, insert and remove batches apply
  * the same DV semantics and exists-defaults as a batch read of that
  * version, so replaying the feed reconstructs what a table read
  * reports. Delete batches read the delta key FILES under the table
  * schema with its exists-defaults stripped: key columns populate and
  * every other column reads null. */
private[sources] final class SnapshotStreamReaderFactory(
    tableSchema: StructType,
    dvByVersion: Map[Long, StreamDv],
    conf: SerializableHadoopConf)
    extends PartitionReaderFactory {

  private val keyFileSchema = SnapshotScan.withExistsDefaults(tableSchema, Map.empty)
  private val meta = StructType(Seq(
    StructField("_change_type", StringType, nullable = false),
    StructField("_commit_version", LongType, nullable = false)))

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SnapshotStreamPartition]
    // delete batches (a delta DV file, read whole) carry dvVersion -1:
    // no lookup, no probe
    val d = dvByVersion.get(p.dvVersion)
    // a class no DV covers carries null: no probe, no key columns
    val dv: DvLookup = d.map(_.lookups.value.apply(p.base.dvClass)).orNull
    val keys = d.fold(new StructType())(x =>
      StructType(x.keyCols.zip(x.keyTypes).map { case (n, t) => StructField(n, t) }))
    new SnapshotRowReader(new SnapshotBatchDecoder(p.base,
      if (p.changeType == "delete") keyFileSchema else tableSchema, keys, dv,
      meta, InternalRow(UTF8String.fromString(p.changeType), p.version),
      conf.conf, new ScanTaskMetrics))
  }
}
