package graftbench

import graft.Pipeline
import graft.etl.Keys.KeyStrategy
import graft.ingest.BronzeWriter
import graft.model.FixedClock
import graft.sql.AnalyticsSql
import java.nio.file.{Files, Path, Paths}
import java.time.{LocalDateTime, ZoneOffset}
import scala.util.Random

/** The paper's own job: a daily medallion batch. Each episode starts an
  * empty warehouse and lands `days` daily batches of `cities` current
  * observations plus 40-point forecasts; each batch is ingested, run
  * bronze → silver → dims → facts by `Pipeline.run(materializeGold =
  * true)`, and answered with the four dashboard queries.
  *
  * Generator rules the output checks rely on:
  *  - every good city reports once per batch at 06:00, so silver and
  *    fact_weather_actual gain exactly `cities` rows per batch;
  *  - `victims` extra records per batch fail the DQ gate (temperature out
  *    of range, humidity out of range, or temperature missing) and
  *    `dupes` are exact repeats of good records that dedup must drop;
  *  - forecast point k sits at created + 3k h + an offset under 50 min, so
  *    a point lies within ±1 h of an observation only when k = 8j for a
  *    later observed day j: forecasts made on day c match
  *    min(5, b − c) observations by batch b. */
object WxDaily {
  val Conditions = Array("Clear", "Clouds", "Rain", "Snow", "Mist")

  final case class Sizes(cities: Int, days: Int, victims: Int, dupes: Int)

  def expectedAccuracy(cities: Int, batch: Int): Long =
    cities.toLong * (0 to batch).map(c => math.min(5, batch - c)).sum

  private def current(city: Int, country: String, ts: String, batchId: String, rnd: Random,
      temp: Option[Double], humidity: Long): String = {
    val t = temp.map(v => "%.2f".formatLocal(java.util.Locale.ROOT, v))
    val mainTemp = t.map(v => s""""temp": $v, """).getOrElse("")
    val cond = Conditions(rnd.nextInt(Conditions.length))
    val tz = ((city % 25) - 12) * 3600L
    s"""{"city_name": "City_$city", "country": "$country", "extraction_timestamp": "$ts", "batch_id": "$batchId", "data_type": "current", """ +
      s""""coord": {"lat": ${(city % 170) - 85}.5, "lon": ${(city * 7 % 350) - 175}.25}, """ +
      s""""main": {${mainTemp}"feels_like": ${t.getOrElse("0.0")}, "temp_min": 0.0, "temp_max": 1.0, "pressure": ${990 + rnd.nextInt(40)}, "humidity": $humidity}, """ +
      s""""wind": {"speed": ${rnd.nextInt(20)}.5, "deg": ${rnd.nextInt(360)}, "gust": 3.5}, "clouds": {"all": ${rnd.nextInt(101)}}, "visibility": 10000, """ +
      s""""weather": [{"id": 800, "main": "$cond", "description": "desc $cond", "icon": "01d"}], "timezone": $tz, """ +
      s""""sys": {"sunrise": 1704088800, "sunset": 1704124800}}"""
  }

  private def forecast(city: Int, country: String, ts: String, batchId: String, epoch: Long, rnd: Random): String = {
    val off = rnd.nextInt(100 * 60) - 50 * 60 + 1 // strictly inside ±50 min
    val pts = (1 to 40).map { k =>
      val temp = "%.2f".formatLocal(java.util.Locale.ROOT, rnd.nextGaussian() * 8 + 15)
      val cond = Conditions(rnd.nextInt(Conditions.length))
      s"""{"dt": ${epoch + 3L * 3600 * k + off}, "main": {"temp": $temp, "feels_like": $temp, "pressure": 1011, "humidity": ${20 + rnd.nextInt(80)}}, """ +
        s""""wind": {"speed": 3.0, "deg": 120}, "clouds": {"all": 40}, "pop": 0.2, "weather": [{"id": 500, "main": "$cond", "description": "d", "icon": "10d"}]}"""
    }
    s"""{"city_name": "City_$city", "country": "$country", "extraction_timestamp": "$ts", "batch_id": "$batchId", "data_type": "forecast", "list": ${pts.mkString("[", ",", "]")}}"""
  }

  /** Payloads of one daily batch: (current, forecast). */
  def batch(seed: Long, sizes: Sizes, day: Int, base: LocalDateTime): (Seq[String], Seq[String]) = {
    val rnd = new Random(seed * 1000003L + day)
    val t = base.plusDays(day)
    val ts = t.toString
    val batchId = t.format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss"))
    val epoch = t.toEpochSecond(ZoneOffset.UTC)
    val countries = Array("GB", "JP", "US", "DE", "BR", "IN", "ZA", "AU")
    val good = (0 until sizes.cities).map { c =>
      current(c, countries(c % countries.length), ts, batchId, rnd,
        Some(rnd.nextGaussian() * 10 + 15).map(v => math.max(-45.0, math.min(55.0, v))), 20L + rnd.nextInt(80))
    }
    val victims = (0 until sizes.victims).map { v =>
      val name = sizes.cities + v
      v % 3 match {
        case 0 => current(name, "XX", ts, batchId, rnd, Some(75.0 + rnd.nextInt(20)), 50L)
        case 1 => current(name, "XX", ts, batchId, rnd, Some(20.0), 101L + rnd.nextInt(50))
        case _ => current(name, "XX", ts, batchId, rnd, None, 50L)
      }
    }
    val dupes = (0 until sizes.dupes).map(i => good((i * 7919) % good.size))
    val fc = (0 until sizes.cities).map(c => forecast(c, countries(c % countries.length), ts, batchId, epoch, rnd))
    (rnd.shuffle(good ++ victims ++ dupes), fc)
  }

  /** The layer a file write of `Pipeline.run` belongs to, by its output
    * path: silver tables, gold dimensions, gold facts. */
  def writeLayer(path: String): Option[(String, String)] =
    if (path.contains("/silver/")) Some(("etl.silver", "etl"))
    else if (path.contains("/gold/dim_")) Some(("etl.dims", "etl"))
    else if (path.contains("/gold/fact_")) Some(("sql.facts", "sql"))
    else None

  /** One episode of `sizes.days` batches in a fresh warehouse under
    * `root`; returns the latency (ms) of every batch that passed. Each
    * batch is landed with `BronzeWriter.writeBatch`, carried to gold by
    * `Pipeline.run(materializeGold = true)` and answered with the four
    * dashboard queries. */
  def episode(h: Harness, root: Path, sizes: Sizes, seed: Long, base: LocalDateTime): Seq[Double] = {
    val spark = h.spark
    val layout = Pipeline.Layout(root.resolve("bronze").toString, root.resolve("silver").toString,
      root.resolve("gold").toString)
    val clock = FixedClock("2024-01-01 07:00:00")
    var silverBefore = 0L
    (0 until sizes.days).flatMap { day =>
      val (cur, fc) = batch(seed, sizes, day, base)
      val at = base.plusDays(day)
      h.op(s"wx.batch$day") {
        h.layer("ingest", "ingest.write") {
          val a = BronzeWriter.writeBatch(layout.bronzeDir, "current", at, cur)
          val b = BronzeWriter.writeBatch(layout.bronzeDir, "forecast", at, fc)
          if (h.tracing) {
            h.add("ingest.bytes", Files.size(a) + Files.size(b))
            h.add("ingest.files", 2)
          }
        }
        val out = h.layer("etl", "etl.pipeline") {
          Pipeline.run(spark, layout, clock, KeyStrategy.Scalable, materializeGold = true)
        }
        val answers = h.layer("sql", "sql.dashboard") {
          Seq(AnalyticsSql.q1, AnalyticsSql.q2, AnalyticsSql.q3(at.toLocalDate.toString), AnalyticsSql.q4)
            .map(q => spark.sql(q).collect().toSeq)
        }
        (out, answers)
      } { case (out, answers) =>
        def written(t: String) = out.writeMetrics(t)("rows_written").asInstanceOf[Long]
        val curRows = written("current_weather")
        val accRows = spark.read.parquet(s"${layout.goldDir}/fact_forecast_accuracy").count()
        if (h.tracing) {
          h.add("etl.rows_out", curRows + written("forecast_weather"))
          h.add("etl.silver_gain", curRows - silverBefore)
          h.add("etl.records_landed", cur.size)
          h.add("sql.accuracy_rows", accRows)
          h.put("etl.silver_bytes", Dirs.bytes(Paths.get(layout.silverDir)).toDouble)
        }
        silverBefore = curRows
        checkBatch(h, sizes, day, curRows, written("forecast_weather"), accRows, answers)
      }
    }
  }

  private def checkBatch(h: Harness, s: Sizes, day: Int, curRows: Long, fcRows: Long, accRows: Long,
      answers: Seq[Seq[org.apache.spark.sql.Row]]): Boolean = {
    val n = day + 1
    val expAcc = expectedAccuracy(s.cities, day)
    val Seq(q1, q2, q3, q4) = answers
    h.check(s"wx.batch$day.silver_current", curRows == s.cities.toLong * n, s"silver current $curRows != ${s.cities * n}") &
      h.check(s"wx.batch$day.silver_forecast", fcRows == 40L * s.cities * n, s"silver forecast $fcRows != ${40 * s.cities * n}") &
      h.check(s"wx.batch$day.accuracy", accRows == expAcc, s"accuracy rows $accRows != $expAcc") &
      h.check(s"wx.batch$day.q1", q1.map(_.getLong(1)).sum == expAcc, "q1 total_forecasts != accuracy rows") &
      h.check(s"wx.batch$day.q2", q2.size == (if (expAcc > 0) s.cities else 0), s"q2 rows ${q2.size}") &
      h.check(s"wx.batch$day.q3", q3.size == s.cities, s"q3 rows ${q3.size} != ${s.cities}") &
      h.check(s"wx.batch$day.q4", q4.map(_.getLong(1)).sum == expAcc, "q4 forecast_count != accuracy rows")
  }
}
