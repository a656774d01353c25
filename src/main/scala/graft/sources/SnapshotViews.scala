package graft.sources

import java.net.{URLDecoder, URLEncoder}

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, View, ViewInfo}
import org.apache.spark.sql.types.{DataType, StructType}

/** PERSISTED SQL VIEWS for the snapshot catalog ([[SnapshotCatalog]]
  * implements Spark 4's DSv2 `ViewCatalog` through this store) — the
  * catalog analog of the reference's Athena view layer
  * (`scripts/sql/create_views.sql`), but durable engine-side: `CREATE
  * VIEW cat.ns.v AS SELECT ...` writes ONE small metadata file and
  * every later session (any Spark cluster pointing at the same
  * warehouse) resolves it by name — no session re-registration, the
  * property that makes views shareable infrastructure rather than
  * notebook state.
  *
  * Storage: `<warehouse>/<ns...>/_views/<name>` — a `k=v` line file
  * like the store's commit markers (values URL-encoded so SQL text,
  * newlines, and unicode survive), published by the same atomic
  * no-overwrite rename as tags/markers: a view either exists fully or
  * not at all, and a racing `CREATE VIEW` loses the rename, never
  * half-writes. The view body is the ORIGINAL SQL plus the defining
  * context Spark captured (current catalog/namespace, expected schema,
  * query column names, aliases, comments, properties) — resolution
  * semantics stay entirely Spark's.
  *
  * At 100 TB scale views are pure metadata (one ~KB file per view);
  * listing is one directory scan per namespace. */
private[graft] object SnapshotViews {

  private def enc(s: String): String = URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String = URLDecoder.decode(s, "UTF-8")
  private val NullTok = "\u0000null" // encoded, can't collide with real text

  private def encArr(a: Array[String]): String =
    if (a == null) NullTok
    else a.map(v => if (v == null) NullTok else enc(v)).mkString(",")
  private def decArr(s: String): Array[String] =
    if (s == NullTok) null
    else if (s.isEmpty) Array.empty
    else s.split(",", -1).map(v => if (v == NullTok) null else dec(v))

  /** The persisted view record (what [[ViewInfo]] carried at CREATE). */
  final case class Rec(
      name: String,
      sql: String,
      currentCatalog: String,
      currentNamespace: Array[String],
      schema: StructType,
      queryColumnNames: Array[String],
      columnAliases: Array[String],
      columnComments: Array[String],
      properties: Map[String, String])

  def recOf(info: ViewInfo): Rec = Rec(
    name = (info.ident.namespace :+ info.ident.name).mkString("."),
    sql = info.sql,
    currentCatalog = info.currentCatalog,
    currentNamespace = info.currentNamespace,
    schema = info.schema,
    queryColumnNames = Option(info.queryColumnNames).getOrElse(Array.empty),
    columnAliases = info.columnAliases,
    columnComments = info.columnComments,
    properties = {
      import scala.jdk.CollectionConverters._
      Option(info.properties).map(_.asScala.toMap).getOrElse(Map.empty)
    })

  private def render(r: Rec): String = {
    val sb = new StringBuilder
    sb.append(s"name=${enc(r.name)}\n")
    sb.append(s"sql=${enc(r.sql)}\n")
    sb.append(s"curcat=${enc(Option(r.currentCatalog).getOrElse(""))}\n")
    sb.append(s"curns=${encArr(r.currentNamespace)}\n")
    sb.append(s"schema=${enc(r.schema.json)}\n")
    sb.append(s"qcols=${encArr(r.queryColumnNames)}\n")
    sb.append(s"aliases=${encArr(r.columnAliases)}\n")
    sb.append(s"comments=${encArr(r.columnComments)}\n")
    r.properties.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb.append(s"prop=${enc(k)}:${enc(v)}\n")
    }
    sb.toString
  }

  private def parse(text: String): Rec = {
    val kv = text.linesIterator.toSeq.flatMap { l =>
      l.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None }
    }
    val m = kv.filterNot(_._1 == "prop").toMap
    Rec(
      name = dec(m("name")),
      sql = dec(m("sql")),
      currentCatalog = dec(m.getOrElse("curcat", "")),
      currentNamespace = decArr(m.getOrElse("curns", "")),
      schema = DataType.fromJson(dec(m("schema"))).asInstanceOf[StructType],
      queryColumnNames = decArr(m.getOrElse("qcols", "")),
      columnAliases = decArr(m.getOrElse("aliases", NullTok)),
      columnComments = decArr(m.getOrElse("comments", NullTok)),
      properties = kv.collect { case ("prop", v) =>
        v.split(":", 2) match { case Array(k2, v2) => dec(k2) -> dec(v2)
                                case _             => dec(v) -> "" }
      }.toMap)
  }

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def viewsDir(warehouse: String, namespace: Array[String]): Path =
    new Path((warehouse +: namespace.toSeq :+ "_views").mkString("/"))
  def viewPath(warehouse: String, ident: Identifier): Path =
    new Path(viewsDir(warehouse, ident.namespace), ident.name)

  def exists(spark: SparkSession, warehouse: String, ident: Identifier): Boolean =
    fs(spark, viewPath(warehouse, ident)).exists(viewPath(warehouse, ident))

  def read(spark: SparkSession, warehouse: String, ident: Identifier): Option[Rec] = {
    val p = viewPath(warehouse, ident)
    val f = fs(spark, p)
    if (!f.exists(p)) return None
    val in = f.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    Some(parse(text))
  }

  /** Atomic create: tmp + no-overwrite rename — loses the race loudly
    * instead of half-writing (same discipline as commit markers). */
  def create(
      spark: SparkSession, warehouse: String, ident: Identifier, rec: Rec,
      overwrite: Boolean): Unit = {
    val p = viewPath(warehouse, ident)
    val f = fs(spark, p)
    f.mkdirs(p.getParent)
    val tmp = new Path(p.getParent, s".tmp_${java.util.UUID.randomUUID.toString.take(12)}")
    val out = f.create(tmp, true)
    try out.write(render(rec).getBytes("UTF-8"))
    finally out.close()
    val fc = FileContext.getFileContext(p.toUri, spark.sparkContext.hadoopConfiguration)
    val mode = if (overwrite) Options.Rename.OVERWRITE else Options.Rename.NONE
    try fc.rename(tmp, p, mode)
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
          _: java.io.FileNotFoundException =>
        f.delete(tmp, false)
        throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
      case e: java.io.IOException if e.getMessage != null &&
          e.getMessage.contains("already exists") =>
        f.delete(tmp, false)
        throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    }
  }

  def drop(spark: SparkSession, warehouse: String, ident: Identifier): Boolean =
    fs(spark, viewPath(warehouse, ident)).delete(viewPath(warehouse, ident), false)

  def list(spark: SparkSession, warehouse: String, namespace: Array[String])
      : Array[Identifier] = {
    val dir = viewsDir(warehouse, namespace)
    val f = fs(spark, dir)
    if (!f.exists(dir)) return Array.empty
    f.listStatus(dir).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("."))
      .map(s => Identifier.of(namespace, s.getPath.getName))
      .toArray
  }

  /** The DSv2 [[View]] Spark's analyzer substitutes for the name. */
  final class SnapView(rec: Rec) extends View {
    override def name(): String = rec.name
    override def query(): String = rec.sql
    override def currentCatalog(): String = rec.currentCatalog
    override def currentNamespace(): Array[String] = rec.currentNamespace
    override def schema(): StructType = rec.schema
    override def queryColumnNames(): Array[String] = rec.queryColumnNames
    override def columnAliases(): Array[String] = rec.columnAliases
    override def columnComments(): Array[String] = rec.columnComments
    override def properties(): java.util.Map[String, String] = {
      import scala.jdk.CollectionConverters._
      rec.properties.asJava
    }
  }
}
