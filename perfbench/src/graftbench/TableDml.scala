package graftbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Writes beside reads on one snapshot table, through `SnapshotCatalog`
  * SQL. The table is seeded from `orders`; each seeded round inserts a
  * batch of new keys, merges about 1 % of keys (updating the live ones,
  * re-inserting deleted ones), deletes a key range, then runs point
  * lookups, `o_orderdate` range scans and a full aggregate. The final
  * table must checksum equal to the same ops replayed on a plain
  * DataFrame. */
object TableDml {
  val Table = "bench.db.orders"
  val InsertBase = 10000000L
  val InsertRows = 200
  val DeleteWidth = 60
  val Cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")

  final case class Round(r: Int, insertLo: Long, deleteLo: Long, points: Seq[Long], rangeDays: Seq[Int])

  def configure(spark: SparkSession, warehouse: String): Unit = {
    spark.conf.set("spark.sql.catalog.bench", classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.bench.warehouse", warehouse)
  }

  /** Create the table from `orders` in eight key-ranged files. */
  def prepare(spark: SparkSession, dataDir: String, warehouse: String): Unit = {
    configure(spark, warehouse)
    spark.read.parquet(s"$dataDir/orders.parquet").createOrReplaceTempView("bench_orders_src")
    spark.sql(s"CREATE TABLE $Table AS SELECT /*+ REPARTITION_BY_RANGE(8, o_orderkey) */ * FROM bench_orders_src")
  }

  /** Rows for the keys in `ids` (column `id`): a pure function of (key,
    * seed, tag), typed like the `orders` columns. */
  def rowsFor(ids: DataFrame, seed: Long, tag: Int, dateType: String): DataFrame =
    ids.selectExpr(
      "id AS o_orderkey",
      s"pmod(xxhash64(id, ${seed}L), 15000) AS o_custkey",
      "'O' AS o_orderstatus",
      s"CAST(pmod(xxhash64(id, ${seed}L, $tag), 100000) AS DOUBLE) / 100 + 1000 AS o_totalprice",
      s"CAST(date_add(DATE'2001-01-01', CAST(pmod(id, 200) AS INT)) AS $dateType) AS o_orderdate",
      "'3-MEDIUM' AS o_orderpriority")

  /** Order-insensitive (rows, hash sum) of a frame with the table columns. */
  def checksum(df: DataFrame): (Long, String) = {
    val r = df.select(Cols.map(col): _*)
      .agg(count(lit(1)), sum(xxhash64(Cols.map(col): _*).cast("decimal(38,0)")).cast("string"))
      .first()
    (r.getLong(0), Option(r.getString(1)).getOrElse("0"))
  }

  def isData(p: Path): Boolean =
    p.toString.endsWith(".parquet") && !p.toString.contains("/_deletes/")
}

/** One run's seeded DML op generator over a table of `baseRows`
  * seed rows. */
final class TableDml(spark: SparkSession, dataDir: String, seed: Long) {
  import TableDml._
  val base: DataFrame = spark.read.parquet(s"$dataDir/orders.parquet")
  val baseRows: Long = base.count()
  private val dateType = base.schema("o_orderdate").dataType.sql

  def round(r: Int): Round = {
    val rnd = new Random(seed * 104729L + r)
    Round(r, InsertBase + r.toLong * InsertRows, (rnd.nextDouble() * (baseRows - DeleteWidth)).toLong,
      Seq.fill(3)((rnd.nextDouble() * baseRows).toLong), Seq(rnd.nextInt(2300)))
  }

  def inserts(rd: Round): DataFrame =
    rowsFor(spark.range(rd.insertLo, rd.insertLo + InsertRows).toDF(), seed, rd.r, dateType)

  /** Merge source of round r: ~1 % of the base keys and of the keys
    * inserted so far, chosen by hash. */
  def mergeSource(r: Int): DataFrame = {
    val pick = s"pmod(xxhash64(id, ${seed}L, $r), 100) = 0"
    val keys = spark.range(0, baseRows).where(pick)
      .union(spark.range(InsertBase, InsertBase + (r + 1).toLong * InsertRows).where(pick))
    rowsFor(keys.toDF(), seed, 1000 + r, dateType)
  }

  /** Apply round r to a plain DataFrame exactly as the SQL statements do. */
  def replay(state: DataFrame, rd: Round): DataFrame = {
    val withInsert = state.unionByName(inserts(rd))
    val src = mergeSource(rd.r)
    val srcKeys = src.select(col("o_orderkey").as("__k"))
    val updated = withInsert.join(srcKeys, col("o_orderkey") === col("__k"), "left")
      .withColumn("o_totalprice", when(col("__k").isNotNull, col("o_totalprice") + 1.0).otherwise(col("o_totalprice")))
      .withColumn("o_orderstatus", when(col("__k").isNotNull, lit("M")).otherwise(col("o_orderstatus")))
      .select(Cols.map(col): _*)
    val inserted = src.join(withInsert.select(col("o_orderkey").as("__k")), col("o_orderkey") === col("__k"), "left_anti")
    updated.unionByName(inserted)
      .where(!(col("o_orderkey") >= rd.deleteLo && col("o_orderkey") < rd.deleteLo + DeleteWidth))
  }

  /** One round as timed ops; returns (kind, ms) samples. */
  def runRound(h: Harness, rd: Round): Seq[(String, Double)] = {
    val out = ArrayBuffer.empty[(String, Double)]
    def commit(kind: String)(body: => Unit): Unit =
      h.op(s"dml.$kind")(h.layer("store", s"store.$kind")(body))(_ => true).foreach(ms => out += (kind -> ms))
    commit("append") {
      inserts(rd).createOrReplaceTempView("bench_insert_src")
      spark.sql(s"INSERT INTO $Table SELECT ${Cols.mkString(", ")} FROM bench_insert_src")
    }
    commit("merge") {
      mergeSource(rd.r).createOrReplaceTempView("bench_merge_src")
      spark.sql(
        s"""MERGE INTO $Table t USING bench_merge_src s ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET t.o_totalprice = t.o_totalprice + 1.0, t.o_orderstatus = 'M'
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    commit("delete") {
      spark.sql(s"DELETE FROM $Table WHERE o_orderkey >= ${rd.deleteLo} AND o_orderkey < ${rd.deleteLo + DeleteWidth}")
    }
    def read(kind: String, sql: String)(ok: Long => Boolean): Unit =
      h.op(s"dml.$kind")(h.layer("sources", "sources.read")(h.countRows(spark.sql(sql)))) { n =>
        h.check(s"dml.$kind", ok(n), s"unexpected row count $n")
      }.foreach(ms => out += (kind -> ms))
    rd.points.foreach(k => read("point", s"SELECT * FROM $Table WHERE o_orderkey = $k")(_ <= 1))
    rd.rangeDays.foreach { d =>
      read("range",
        s"""SELECT * FROM $Table WHERE o_orderdate >= date_add(DATE'1995-01-01', $d)
           |AND o_orderdate < date_add(DATE'1995-01-01', ${d + 30})""".stripMargin)(_ > 0)
    }
    read("aggregate",
      s"SELECT o_orderpriority, count(*), sum(o_totalprice) FROM $Table GROUP BY o_orderpriority")(_ == 5)
    out.toSeq
  }
}
