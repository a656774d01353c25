package graft.store

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** TIME-BASED / VALUE partition transforms for snapshot tables — the
  * Iceberg-shaped layout family (`identity`, `years`, `months`,
  * `days`, `hours`, `truncate(w)`) that a day-appended 100 TB fact
  * needs for partition-level pruning and partition-aligned retention
  * deletes (the reference's own silver layer is date-partitioned:
  * `bronze_to_silver.py:115` partitionBy("observation_date"); bronze
  * lands under `year=/month=/day=/hour=`, `weather_extractor_lambda
  * .py:67`).
  *
  * Layout contract:
  *  - Writers CLUSTER rows by the transformed value and stage each
  *    partition's rows under a hive-style directory per spec field:
  *    `<staged>/__gp0=<value>/__gp1=<value>/part-*.parquet`. The
  *    derived value is directory-only — data files keep the ORIGINAL
  *    columns untouched, so every existing read path works unchanged.
  *  - The manifest records the spec (`part=` line), i.e. which `__gpN`
  *    directory maps to which (transform, column). Pruning is PER
  *    FILE: a file under partition directories carries provable
  *    bounds for its source columns; a file without them (compaction
  *    rewrites, merge-on-read inserts, foreign data) simply never
  *    prunes — conservative, never wrong. The spec therefore carries
  *    forward across EVERY commit kind, unlike `bucket=` (which is an
  *    all-files zip contract and must drop on unrouted rewrites).
  *  - All timestamp derivations are UTC epoch arithmetic
  *    (`unix_micros` + integer day/hour math), never the session
  *    timezone — two writers in different zones must route a row to
  *    the SAME directory.
  *
  * Directory value rendering (canonical, shared by the DataFrame
  * write path and the DSv2 rolling writer):
  *  - `days`   → ISO date `2024-01-05` (UTC day of the value)
  *  - `months` → `2024-01`, `years` → `2024`
  *  - `hours`  → `2024-01-05-13` (UTC)
  *  - `identity` → the value's canonical string (dates ISO, integrals
  *    decimal, booleans true/false, strings hive-escaped)
  *  - `truncate(w)` → first `w` codepoints (strings) or
  *    `v - floorMod(v, w)` (integrals)
  * Nulls route to Spark's hive default partition directory.
  */
object PartitionSpec {

  /** One transform of the partition spec. `arg` is the truncate width
    * (0 for every other transform). */
  final case class PartField(transform: String, col: String, arg: Int = 0) {
    def describe: String =
      if (transform == "truncate") s"truncate($arg, $col)"
      else if (transform == "identity") col
      else s"$transform($col)"
  }

  val NullDir = "__HIVE_DEFAULT_PARTITION__"

  private def escape(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(s)
  private def unescape(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(s)

  // ---- manifest serialization -------------------------------------

  /** `days:ts|truncate:4:name|identity:region` (the `part=` line). */
  def render(spec: Seq[PartField]): String =
    spec.map { f =>
      if (f.transform == "truncate") s"truncate:${f.arg}:${f.col}"
      else s"${f.transform}:${f.col}"
    }.mkString("|")

  def parse(s: String): Seq[PartField] =
    s.split('|').toSeq.filter(_.nonEmpty).map { part =>
      part.split(":", 3) match {
        case Array("truncate", w, c) => PartField("truncate", c, w.toInt)
        case Array(t, c)             => PartField(t, c)
        case other => throw new IllegalArgumentException(
          s"unparseable partition-spec field '${other.mkString(":")}' in '$s'")
      }
    }

  // ---- validation ---------------------------------------------------

  def validate(spec: Seq[PartField], schema: StructType): Unit = {
    require(spec.nonEmpty, "empty partition spec")
    spec.foreach { f =>
      val field = schema.fields.find(_.name == f.col).getOrElse(
        throw new IllegalArgumentException(
          s"partition column '${f.col}' is not in the schema " +
            s"(${schema.fieldNames.mkString(", ")})"))
      val ok = (f.transform, field.dataType) match {
        case ("identity", IntegerType | LongType | ShortType | ByteType |
            StringType | DateType | BooleanType) => true
        case ("years" | "months" | "days",
            DateType | TimestampType | TimestampNTZType) => true
        case ("hours", TimestampType | TimestampNTZType)  => true
        case ("truncate", StringType | IntegerType | LongType)       => f.arg > 0
        case _                                                       => false
      }
      if (!ok) throw new UnsupportedOperationException(
        s"unsupported partition transform ${f.describe} over ${field.dataType} " +
          "(supported: identity over integral/string/date/boolean; years/months/days " +
          "over date/timestamp; hours over timestamp; truncate(w) over string/integral)")
    }
    val dup = spec.groupBy(f => (f.transform, f.col)).collect { case (k, v) if v.size > 1 => k }
    require(dup.isEmpty, s"duplicate partition transform(s): ${dup.mkString(", ")}")
  }

  // ---- DataFrame-side derivation (store write paths) ----------------

  def dirColName(i: Int): String = s"__gp$i"

  /** Spec-generation-aware directory column name (round-14 partition
    * SPEC EVOLUTION): generation 0 keeps the legacy `__gpN` names;
    * every later generation embeds its number (`__g<gen>pN`), so a
    * manifest that references files routed under DIFFERENT generations
    * (months→days evolution without a rewrite) can derive each file's
    * facts from exactly the spec that wrote it — the directory name
    * itself is the authority, never a parse guess (an identity-string
    * generation would otherwise happily "parse" any other generation's
    * values). */
  def dirColName(gen: Int, i: Int): String =
    if (gen == 0) s"__gp$i" else s"__g${gen}p$i"

  /** The derived routing column for one spec field — canonical STRING
    * form so `df.write.partitionBy` names directories exactly like the
    * DSv2 rolling writer. UTC throughout: timestamps derive through
    * `unix_micros` integer math, never session-timezone functions. */
  def deriveColumn(f: PartField, dt: DataType): Column = {
    // UTC epoch day of a zoned timestamp (floor semantics pre-1970 too);
    // an NTZ timestamp extracts its LOCAL date part directly — both are
    // session-timezone-independent
    def utcDate(c: Column): Column =
      date_from_unix_date(floor(unix_micros(c) / lit(86400000000L)).cast("int"))
    val asDate: Column = dt match {
      case DateType         => col(f.col)
      case TimestampType    => utcDate(col(f.col))
      case TimestampNTZType => to_date(col(f.col))
      case _                => col(f.col) // non-temporal transforms never use this
    }
    f.transform match {
      case "identity" => col(f.col).cast("string")
      case "days"     => asDate.cast("string")
      case "months"   => date_format(asDate, "yyyy-MM")
      case "years"    => date_format(asDate, "yyyy")
      case "hours" =>
        val hourOfDay = dt match {
          case TimestampNTZType => hour(col(f.col))
          case _ => pmod(floor(unix_micros(col(f.col)) / lit(3600000000L)), lit(24))
        }
        concat(asDate.cast("string"), lit("-"),
          lpad(hourOfDay.cast("string"), 2, "0"))
      case "truncate" => dt match {
        case StringType => substring(col(f.col), 1, f.arg)
        case _ => (col(f.col) - pmod(col(f.col), lit(f.arg.toLong))).cast("string")
      }
      case other => throw new IllegalArgumentException(s"unknown transform $other")
    }
  }

  /** Stage `df` with the derived routing columns appended (names
    * `__gp0..`) — callers hand the result to `write.partitionBy(dirCols)`,
    * which moves the derived columns into directory names and keeps
    * every original column in the data files. */
  def withRoutingColumns(
      df: DataFrame, spec: Seq[PartField], gen: Int = 0): (DataFrame, Seq[String]) = {
    val schema = df.schema
    val names = spec.indices.map(dirColName(gen, _))
    val out = spec.zipWithIndex.foldLeft(df) { case (d, (f, i)) =>
      d.withColumn(dirColName(gen, i), deriveColumn(f, schema(f.col).dataType))
    }
    (out, names)
  }

  // ---- JVM-side derivation (DSv2 rolling writer) ---------------------

  private def fmtDay(epochDay: Long): String = LocalDate.ofEpochDay(epochDay).toString

  /** Canonical directory VALUE for one row's raw internal value
    * (Long micros for timestamps, Int days for dates, UTF8String
    * already stringified for strings). None = null. Must agree
    * byte-for-byte with [[deriveColumn]]'s rendering. */
  def renderValue(f: PartField, dt: DataType, raw: Any): String = {
    def epochDayOf: Long = dt match {
      case DateType => raw.asInstanceOf[Int].toLong
      case TimestampType | TimestampNTZType =>
        Math.floorDiv(raw.asInstanceOf[Long], 86400000000L)
      case other => throw new IllegalStateException(s"temporal transform over $other")
    }
    f.transform match {
      case "identity" => dt match {
        case DateType => fmtDay(raw.asInstanceOf[Int].toLong)
        case _        => raw.toString
      }
      case "days"   => fmtDay(epochDayOf)
      case "months" =>
        val d = LocalDate.ofEpochDay(epochDayOf)
        f"${d.getYear}%04d-${d.getMonthValue}%02d"
      case "years" => f"${LocalDate.ofEpochDay(epochDayOf).getYear}%04d"
      case "hours" =>
        val hourIdx = Math.floorDiv(raw.asInstanceOf[Long], 3600000000L)
        f"${fmtDay(Math.floorDiv(hourIdx, 24L))}-${Math.floorMod(hourIdx, 24L)}%02d"
      case "truncate" => dt match {
        case StringType =>
          val s = raw.toString
          val cp = s.codePointCount(0, s.length)
          if (cp <= f.arg) s else s.substring(0, s.offsetByCodePoints(0, f.arg))
        case _ =>
          val v = raw.asInstanceOf[Number].longValue()
          (v - Math.floorMod(v, f.arg.toLong)).toString
      }
      case other => throw new IllegalArgumentException(s"unknown transform $other")
    }
  }

  /** `__gp0=v0/__gp1=v1` directory suffix for one row (hive-escaped;
    * nulls to the hive default dir). An EMPTY rendered value routes to
    * the default dir too — Spark's own
    * `ExternalCatalogUtils.getPartitionPathString` treats
    * `value.isEmpty` as the default partition, so `df.write
    * .partitionBy` puts both null and `''` there; the rolling writer
    * must agree byte-for-byte or one logical partition splits across
    * two directories depending on which writer committed it. Only
    * string transforms can render empty (identity/truncate of `''`);
    * numerics/dates always render at least one character. */
  def dirSuffix(spec: Seq[PartField], values: Seq[Option[String]], gen: Int = 0): String =
    spec.zip(values).zipWithIndex.map { case ((_, v), i) =>
      s"${dirColName(gen, i)}=${v.filter(_.nonEmpty).map(escape).getOrElse(NullDir)}"
    }.mkString("/")

  // ---- path → implied source-column constraints (scan pruning) -------

  /** One provable fact a partition directory asserts about a file. */
  sealed trait Fact
  /** Every row's `col` lies in [lo, hi] and is non-null (values in the
    * sidecar-stats domain: Long for integrals/timestamp-micros/
    * date-days, String for strings). */
  final case class Bounds(col: String, lo: Any, hi: Any) extends Fact
  /** Every row's `col` string-truncates (first `width` codepoints) to
    * `prefix`, and is non-null. */
  final case class TruncPrefix(col: String, prefix: String, width: Int) extends Fact
  /** Every row's `col` is null. */
  final case class AllNull(col: String) extends Fact

  /** Parse the `__gpN=` segments of `path` into per-source-column
    * facts. A path without the segments yields no facts (unroutable
    * file — never pruned). Unparseable values are skipped, not wrong.
    *
    * STRING source columns get no fact from the hive default
    * directory: `df.write.partitionBy` routes BOTH null and
    * empty-string values there (`ExternalCatalogUtils.getPartitionPathString`
    * treats `value.isEmpty` as the default partition), so the
    * directory proves "null OR ''", which is not [[AllNull]] — an
    * AllNull fact would let null-excluding predicates like `c = ''`
    * prune a file that contains matching rows. */
  def factsOf(
      path: String, spec: Seq[PartField], schema: StructType, gen: Int = 0): Seq[Fact] = {
    val segs = path.split('/')
    spec.zipWithIndex.flatMap { case (f, i) =>
      val pre = s"${dirColName(gen, i)}="
      for {
        field <- schema.fields.find(_.name == f.col) // evolved-away col → no facts
        seg <- segs.find(_.startsWith(pre))
        raw = seg.stripPrefix(pre)
        fact <- if (raw == NullDir) {
                  if (field.dataType == StringType) None // null-or-empty: unprovable
                  else Some(AllNull(f.col))
                }
                // a bare `__gpN=` segment: neither writer produces it
                // (empty renders route to NullDir, non-strings never
                // render empty), so it is foreign/corrupt — per the
                // doctrine above, skipped, never asserted
                else if (raw.isEmpty) None
                else factOf(f, field.dataType, unescape(raw))
      } yield fact
    }
  }

  /** The RAW routed directory values of one file under `spec`
    * generation `gen` — Some only when EVERY spec field has its
    * directory segment (a fully routed file). Raw-string equality of
    * these tuples IS partition identity (one writer, one canonical
    * rendering per value, nulls included via the null directory), which
    * is what partition-scoped operations (dynamic overwrite) classify
    * by — no value parsing, no transform math. */
  def tupleOf(path: String, spec: Seq[PartField], gen: Int = 0): Option[Seq[String]] = {
    val segs = path.split('/')
    val vals = spec.indices.map { i =>
      val pre = s"${dirColName(gen, i)}="
      segs.find(_.startsWith(pre)).map(_.stripPrefix(pre))
    }
    if (vals.forall(_.isDefined)) Some(vals.map(_.get)) else None
  }

  private def factOf(f: PartField, dt: DataType, v: String): Option[Fact] =
    try {
      def dayMicros(d: LocalDate): (Long, Long) = {
        val lo = d.toEpochDay * 86400000000L
        (lo, lo + 86399999999L)
      }
      f.transform match {
        case "identity" => dt match {
          case IntegerType | LongType | ShortType | ByteType =>
            Some(Bounds(f.col, java.lang.Long.valueOf(v.toLong), java.lang.Long.valueOf(v.toLong)))
          case StringType => Some(Bounds(f.col, v, v))
          case DateType =>
            val d = java.lang.Long.valueOf(LocalDate.parse(v).toEpochDay)
            Some(Bounds(f.col, d, d))
          case _ => None // boolean: no comparable stats domain — never prune
        }
        case "days" =>
          val d = LocalDate.parse(v)
          dt match {
            case DateType =>
              Some(Bounds(f.col, java.lang.Long.valueOf(d.toEpochDay), java.lang.Long.valueOf(d.toEpochDay)))
            case _ =>
              val (lo, hi) = dayMicros(d)
              Some(Bounds(f.col, java.lang.Long.valueOf(lo), java.lang.Long.valueOf(hi)))
          }
        case "months" =>
          val first = LocalDate.parse(s"$v-01")
          val last = first.plusMonths(1).minusDays(1)
          dt match {
            case DateType => Some(Bounds(f.col,
              java.lang.Long.valueOf(first.toEpochDay), java.lang.Long.valueOf(last.toEpochDay)))
            case _ => Some(Bounds(f.col,
              java.lang.Long.valueOf(dayMicros(first)._1), java.lang.Long.valueOf(dayMicros(last)._2)))
          }
        case "years" =>
          val first = LocalDate.of(v.toInt, 1, 1)
          val last = first.plusYears(1).minusDays(1)
          dt match {
            case DateType => Some(Bounds(f.col,
              java.lang.Long.valueOf(first.toEpochDay), java.lang.Long.valueOf(last.toEpochDay)))
            case _ => Some(Bounds(f.col,
              java.lang.Long.valueOf(dayMicros(first)._1), java.lang.Long.valueOf(dayMicros(last)._2)))
          }
        case "hours" =>
          // 2024-01-05-13 → the hour's micros range
          val (dayPart, hourPart) = (v.substring(0, 10), v.substring(11))
          val lo = LocalDate.parse(dayPart).toEpochDay * 86400000000L +
            hourPart.toLong * 3600000000L
          Some(Bounds(f.col, java.lang.Long.valueOf(lo), java.lang.Long.valueOf(lo + 3599999999L)))
        case "truncate" => dt match {
          case StringType => Some(TruncPrefix(f.col, v, f.arg))
          case _ =>
            val lo = v.toLong
            Some(Bounds(f.col, java.lang.Long.valueOf(lo), java.lang.Long.valueOf(lo + f.arg - 1)))
        }
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None } // unparseable → no fact
}
