package graft.store

import java.nio.charset.StandardCharsets
import java.util.Base64

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** Manifest-level FILE STATISTICS for snapshot tables: per-file,
  * per-row-group (byte range, row count, column min/max, all-null
  * proof) harvested ONCE at commit time and stored in a sidecar under
  * `<table>/_stats/`, referenced from the commit marker
  * (`statsfile=` line).
  *
  * Why: without a sidecar, every query PLANNING pass opens every data
  * file's parquet footer — one remote round-trip per file, serial, on
  * the driver. At the 100 TB shape (~10⁵ files on an object store)
  * that is minutes of planning before a byte of data is read, per
  * query. With the sidecar, planning is ONE small-file read per
  * table version regardless of file count; footers are only touched
  * at commit time (amortized once, by the writer that just produced
  * the files) — the Delta/Iceberg add-file-stats shape.
  *
  * Copy-forward keeps commits O(delta): an append's sidecar reuses the
  * predecessor sidecar's entries for inherited files at the TEXT level
  * (no re-parse, no footer re-read) and harvests only the newly staged
  * files; copy-on-write MERGE likewise harvests only its replacement
  * files. A file missing from the sidecar is not an error — [[entries]]
  * harvests that file's footer at planning time — so legacy commits
  * and foreign-published data degrade gracefully instead of refusing.
  *
  * This object is the only code that turns parquet footers into
  * planning statistics: scan planning, the change feed's row-group
  * listing, the exists-default presence check and the pushed
  * aggregates all read [[Entry]] values from [[entries]], and callers
  * that must never open a footer read [[sidecar]].
  *
  * Format (plain `k=v` lines like the commit markers — readable with
  * `cat`, no JSON dependency):
  * {{{
  *   x=1                           # writer stats provably untruncated
  *   f=<file path>                 # starts a file entry
  *   c=<urlenc name>,<urlenc name> # the file's top-level field names
  *   g=<start>,<length>,<rows>     # starts a row group
  *   s=<urlenc col>,<kind>,<min>,<max>   # stats for the last `g`
  *   z=<urlenc col>                # column provably all-null in last `g`
  *   n=<urlenc col>                # column provably null-FREE in last `g`
  * }}}
  * Value kinds: `i`/`l` decimal integers, `f`/`d` Float/Double
  * `toString` (exact round-trip), `s` base64 of UTF-8 bytes (parquet's
  * unsigned-byte stats order = Spark's UTF8String order). NaN-poisoned
  * float/double bounds are dropped at harvest (parquet-mr folds NaN
  * through Math.min/max, so a NaN bound could wrongly exclude row
  * groups holding matching real values); absent stats mean "cannot
  * skip / cannot aggregate", never wrong results.
  */
object FileStats {

  /** One row group's recorded statistics. `stats` values are typed as
    * the planner compares them (Integer/Long/Float/Double/String);
    * `allNull` lists columns PROVEN entirely null in this group (the
    * aggregate path needs the distinction between "no stats" and
    * "provably nothing to contribute"); `noNulls` lists columns PROVEN
    * null-free (what lets metadata-only DELETE prove every row of a
    * group satisfies a comparison — a null row satisfies nothing).
    * Sidecars written before the `n=` line existed simply prove
    * nothing, never the wrong thing. */
  final case class Group(
      start: Long, length: Long, rows: Long,
      stats: Map[String, (Any, Any)], allNull: Set[String],
      noNulls: Set[String] = Set.empty)

  /** One data file's entry: its top-level field names plus row groups. */
  final case class Entry(fields: Set[String], groups: Seq[Group])

  /** A parsed sidecar: exactness of binary stats + per-file entries. */
  final case class Sidecar(exact: Boolean, entries: Map[String, Entry])

  def statsDir(table: String): String = s"$table/_stats"

  private def token(): String = java.util.UUID.randomUUID.toString.take(8)

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private def encVal(v: Any): Option[(Char, String)] = v match {
    case i: java.lang.Integer => Some(('i', i.toString))
    case l: java.lang.Long    => Some(('l', l.toString))
    case f: java.lang.Float   => Some(('f', f.toString))
    case d: java.lang.Double  => Some(('d', d.toString))
    case s: String => Some(('s', Base64.getUrlEncoder.withoutPadding
      .encodeToString(s.getBytes(StandardCharsets.UTF_8))))
    case _ => None
  }

  private def decVal(kind: Char, s: String): Any = kind match {
    case 'i' => java.lang.Integer.valueOf(s)
    case 'l' => java.lang.Long.valueOf(s)
    case 'f' => java.lang.Float.valueOf(s)
    case 'd' => java.lang.Double.valueOf(s)
    case 's' => new String(Base64.getUrlDecoder.decode(s), StandardCharsets.UTF_8)
  }

  // ---- harvest: footer → serialized block, once per file, at commit --

  /** Serialize one file's footer into its sidecar block — the one
    * trust rule for footer statistics: NaN-poisoned float/double
    * bounds are dropped, binaries count only under the STRING
    * annotation, all-null (`z=`) and null-free (`n=`) need the null
    * count, and string bounds are values only when the sidecar is
    * `exact`. Commits serialize it once; [[entries]] parses the same
    * text for files a sidecar lacks, so sidecar-planned and
    * footer-planned scans can never disagree. */
  private def harvestOne(conf: Configuration, file: String): String = {
    val sb = new StringBuilder()
    sb.append(s"f=$file\n")
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
    try {
      val fields = r.getFooter.getFileMetaData.getSchema.getFields.asScala.map(_.getName)
      sb.append(s"c=${fields.map(enc).mkString(",")}\n")
      r.getFooter.getBlocks.asScala.foreach { b =>
        sb.append(s"g=${b.getStartingPos},${b.getCompressedSize},${b.getRowCount}\n")
        b.getColumns.asScala.foreach { c =>
          val s = c.getStatistics
          if (s != null && c.getPath.size == 1) {
            val col = c.getPath.iterator().next()
            if (!s.hasNonNullValue) {
              if (s.isNumNullsSet && s.getNumNulls == b.getRowCount)
                sb.append(s"z=${enc(col)}\n")
            } else {
              if (s.isNumNullsSet && s.getNumNulls == 0L)
                sb.append(s"n=${enc(col)}\n")
              val pair: Option[(Any, Any)] = (s.genericGetMin, s.genericGetMax) match {
                case (mn: java.lang.Double, _) if mn.isNaN => None
                case (_, mx: java.lang.Double) if mx.isNaN => None
                case (mn: java.lang.Float, _) if mn.isNaN => None
                case (_, mx: java.lang.Float) if mx.isNaN => None
                case (mn: Number, mx: Number) => Some((mn, mx))
                case (mn: org.apache.parquet.io.api.Binary, mx: org.apache.parquet.io.api.Binary)
                    if c.getPrimitiveType.getLogicalTypeAnnotation != null &&
                      c.getPrimitiveType.getLogicalTypeAnnotation.toString == "STRING" =>
                  Some((mn.toStringUsingUTF8, mx.toStringUsingUTF8))
                case _ => None
              }
              pair.foreach { case (mn, mx) =>
                for ((kMn, eMn) <- encVal(mn); (kMx, eMx) <- encVal(mx)) {
                  require(kMn == kMx, s"min/max kind mismatch on $col: $kMn vs $kMx")
                  sb.append(s"s=${enc(col)},$kMn,$eMn,$eMx\n")
                }
              }
            }
          }
        }
      }
    } finally r.close()
    sb.toString
  }

  /** Commit-time bounded pool for footer harvesting — the commit just
    * wrote these files, but on an object store each footer is still a
    * round-trip; 8-wide keeps a 32-file commit at ~4 serial latencies. */
  private lazy val harvestPool = java.util.concurrent.Executors.newFixedThreadPool(
    math.min(8, Runtime.getRuntime.availableProcessors()),
    (r: Runnable) => { val t = new Thread(r, "stats-harvest"); t.setDaemon(true); t })

  /** Harvest sidecar blocks for `files` in parallel; preserves order.
    * A footer that cannot be read throws its own exception. */
  private def harvest(conf: Configuration, files: Seq[String]): Seq[String] = {
    if (files.isEmpty) return Nil
    val futs = files.map(f =>
      harvestPool.submit(new java.util.concurrent.Callable[String] {
        override def call(): String = harvestOne(conf, f)
      }))
    try futs.map(_.get())
    catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
  }

  // ---- sidecar IO -----------------------------------------------------

  /** Data-file footer opens made by [[entries]] while planning (files
    * no sidecar covers). Sidecar-covered tables plan with zero. */
  val plannerFooterReads = new java.util.concurrent.atomic.AtomicLong

  private val NoEntries = Sidecar(exact = true, Map.empty)

  /** The manifest's stats sidecar, parsed; empty when the manifest has
    * none or reading it fails in any way. Never opens a data-file
    * footer — for callers that must prove from metadata alone. */
  def sidecar(spark: SparkSession, m: SnapshotStore.Manifest): Sidecar =
    if (m.statsFile.isEmpty) NoEntries
    else
      try read(spark, m.statsFile)
      catch { case scala.util.control.NonFatal(_) => NoEntries }

  /** Statistics for every file of `files`: the sidecar's entry where it
    * covers the file, a footer harvest (on the commit-time pool) for
    * the rest. String bounds stay exact only if the sidecar was and,
    * when any footer was harvested, the manifest's writers were. */
  def entries(spark: SparkSession, m: SnapshotStore.Manifest, files: Seq[String]): Sidecar = {
    if (files.isEmpty) return NoEntries
    val sc = sidecar(spark, m)
    val missing = files.distinct.filterNot(sc.entries.contains)
    if (missing.isEmpty) sc
    else {
      plannerFooterReads.addAndGet(missing.size.toLong)
      val harvested = parse(harvest(spark.sparkContext.hadoopConfiguration, missing).mkString)
      Sidecar(sc.exact && m.statsExact, sc.entries ++ harvested.entries)
    }
  }

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write a sidecar from pre-serialized blocks; returns its path. The
    * file is unreferenced until some marker's `statsfile=` line names
    * it, so a CAS-defeated commit's sidecar is an invisible orphan
    * that vacuum collects — same lifecycle as staged data dirs. */
  private def write(spark: SparkSession, table: String, exact: Boolean, blocks: Seq[String]): String = {
    val path = s"${statsDir(table)}/s_${token()}.txt"
    val f = fsOf(spark, table)
    val out = f.create(new Path(path), true)
    try {
      if (exact) out.write("x=1\n".getBytes(StandardCharsets.UTF_8))
      blocks.foreach(b => out.write(b.getBytes(StandardCharsets.UTF_8)))
    } finally out.close()
    path
  }

  /** Raw per-file text blocks of an existing sidecar — the copy-forward
    * currency: an append reuses inherited files' blocks verbatim, no
    * parse, no footer. Returns (exact, file → block). */
  def readBlocks(spark: SparkSession, sidecar: String): (Boolean, Map[String, String]) = {
    val f = fsOf(spark, sidecar)
    val in = f.open(new Path(sidecar))
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    var exact = false
    val blocks = scala.collection.mutable.LinkedHashMap.empty[String, StringBuilder]
    var cur: StringBuilder = null
    text.linesIterator.foreach { line =>
      if (line == "x=1") exact = true
      else if (line.startsWith("f=")) {
        cur = new StringBuilder()
        cur.append(line).append('\n')
        blocks(line.stripPrefix("f=")) = cur
      } else if (cur != null && line.nonEmpty) cur.append(line).append('\n')
    }
    (exact, blocks.view.mapValues(_.toString).toMap)
  }

  /** Sidecars are immutable once a marker references them, so parses
    * cache JVM-wide by path — a long-lived session plans every query
    * against a hot table from memory. Bounded: evicts wholesale past
    * 256 entries (sidecars are per-version; vacuum retires old ones). */
  private val parseCache = TrieMap.empty[String, Sidecar]

  private[graft] def read(spark: SparkSession, sidecar: String): Sidecar =
    parseCache.getOrElseUpdate(sidecar, {
      if (parseCache.size > 256) parseCache.clear()
      parse(readBlocksText(spark, sidecar))
    })

  private def readBlocksText(spark: SparkSession, sidecar: String): String = {
    val f = fsOf(spark, sidecar)
    val in = f.open(new Path(sidecar))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def parse(text: String): Sidecar = {
    var exact = false
    val entries = scala.collection.mutable.LinkedHashMap.empty[String, (scala.collection.mutable.Set[String], scala.collection.mutable.ArrayBuffer[Group])]
    var curFields: scala.collection.mutable.Set[String] = null
    var curGroups: scala.collection.mutable.ArrayBuffer[Group] = null
    var gStats: scala.collection.mutable.Map[String, (Any, Any)] = null
    var gNull: scala.collection.mutable.Set[String] = null
    var gNoNull: scala.collection.mutable.Set[String] = null
    var gHead: (Long, Long, Long) = null
    def flushGroup(): Unit = if (gHead != null) {
      curGroups += Group(gHead._1, gHead._2, gHead._3, gStats.toMap, gNull.toSet, gNoNull.toSet)
      gHead = null
    }
    text.linesIterator.foreach { line =>
      if (line == "x=1") exact = true
      else if (line.startsWith("f=")) {
        flushGroup()
        curFields = scala.collection.mutable.Set.empty[String]
        curGroups = scala.collection.mutable.ArrayBuffer.empty[Group]
        entries(line.stripPrefix("f=")) = (curFields, curGroups)
      } else if (line.startsWith("c=")) {
        val names = line.stripPrefix("c=")
        if (names.nonEmpty) names.split(",", -1).foreach(n => curFields += dec(n))
      } else if (line.startsWith("g=")) {
        flushGroup()
        val parts = line.stripPrefix("g=").split(",")
        gHead = (parts(0).toLong, parts(1).toLong, parts(2).toLong)
        gStats = scala.collection.mutable.Map.empty
        gNull = scala.collection.mutable.Set.empty
        gNoNull = scala.collection.mutable.Set.empty
      } else if (line.startsWith("s=") && gHead != null) {
        val parts = line.stripPrefix("s=").split(",", 4)
        gStats(dec(parts(0))) = (decVal(parts(1).head, parts(2)), decVal(parts(1).head, parts(3)))
      } else if (line.startsWith("z=") && gHead != null) {
        gNull += dec(line.stripPrefix("z="))
      } else if (line.startsWith("n=") && gHead != null) {
        gNoNull += dec(line.stripPrefix("n="))
      }
    }
    flushGroup()
    Sidecar(exact, entries.view.map { case (k, (fs2, gs)) => k -> Entry(fs2.toSet, gs.toSeq) }.toMap)
  }

  // ---- the one-stop commit helper ------------------------------------

  /** Build the sidecar for a commit whose final file list is
    * `finalFiles`: inherit blocks from the predecessor's sidecar where
    * the file carries over (text-level, zero IO per inherited file),
    * harvest footers only for the rest — O(new files) like the commit
    * itself. `exact` is the WRITER's truncation fact for the harvested
    * files; the recorded flag is the AND with the predecessor's (a
    * chain is only provably exact if every contributor was). Returns
    * the sidecar path. Never throws on harvest trouble: a file whose
    * footer can't be read simply gets no entry (planner falls back),
    * because stats are an optimization, not a correctness gate. */
  def sidecarFor(
      spark: SparkSession,
      table: String,
      finalFiles: Seq[String],
      pred: Option[SnapshotStore.Manifest],
      exact: Boolean): String = {
    val (predExact, predBlocks) = pred.map(_.statsFile).filter(_.nonEmpty) match {
      case Some(sc) =>
        try readBlocks(spark, sc)
        catch { case _: java.io.IOException => (true, Map.empty[String, String]) }
      case None => (true, Map.empty[String, String])
    }
    val (inherited, fresh) = finalFiles.partition(predBlocks.contains)
    val conf = spark.sparkContext.hadoopConfiguration
    val harvested: Map[String, String] =
      try fresh.zip(harvest(conf, fresh)).toMap
      catch { case scala.util.control.NonFatal(_) => Map.empty }
    val blocks = finalFiles.flatMap(f => predBlocks.get(f).orElse(harvested.get(f)))
    write(spark, table, exact && (pred.isEmpty || predExact), blocks)
  }
}
