package graft.sql

import graft.{Pipeline, SparkSuite, WeatherFixtures}
import graft.model.FixedClock
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** End-to-end: fixture bronze JSON → silver → dims → fact views →
  * the four analytics queries (SURVEY §7.2 milestone slice). */
class PipelineSpec extends SparkSuite {

  private lazy val outputs = {
    val root = Files.createTempDirectory("graft-pipe")
    WeatherFixtures.standard(root)
    Pipeline.run(
      spark,
      Pipeline.Layout(root.toString, s"$root/silver", s"$root/gold"),
      FixedClock("2024-01-01 07:00:00"))
  }

  test("S7: pipeline lands silver + gold and registers the views") {
    assert(outputs.currentSilver.count() === 2)
    assert(outputs.forecastSilver.count() === 8)
    assert(outputs.dimLocation.count() === 2)
    assert(outputs.dimDate.count() === 1096)
    assert(spark.table("fact_weather_actual").count() === 2)
    assert(spark.table("fact_weather_forecast").count() === 8)
  }

  test("J1/J2/W1: actual fact keys resolve against both dims") {
    val fa = spark.table("fact_weather_actual")
    // default = scalable surrogates: unique, not dense/ordered
    val keys = fa.select("actual_weather_key").collect().map(_.getLong(0))
    assert(keys.distinct.length === 2)
    assert(fa.select("date_key").distinct().head().getInt(0) === 20240101)
    // opt-in parity mode: the reference's dense ordered row_number keys
    val parity = FactViews.factWeatherActual(
      outputs.currentSilver, outputs.dimLocation, outputs.dimDate,
      keys = graft.etl.Keys.KeyStrategy.ParityRowNumber)
    assert(parity.select("actual_weather_key").collect().map(_.getInt(0)).sorted === Array(1, 2))
  }

  test("SQL DDL views: two-pass partition-offset keys enumerate the global ROW_NUMBER order") {
    // round-17: the reference's ROW_NUMBER() OVER (ORDER BY k) surrogate
    // keys are computed per-day + day offset so no single-partition
    // WindowExec materializes the fact table on one task. The contract:
    // keys stay DENSE (1..N) and ascending key order IS ascending k —
    // exactly what the global window produced.
    outputs
    FactViewsSql.registerAll(spark, "2024-01-01 07:00:00", "_tp")
    Seq(
      ("fact_weather_actual_tp", "actual_weather_key", Seq("observation_time")),
      ("fact_weather_forecast_tp", "forecast_key",
        Seq("forecast_created_time", "forecast_for_time")),
      ("fact_forecast_accuracy_tp", "accuracy_key",
        Seq("forecast_created_time", "forecast_for_time"))
    ).foreach { case (view, key, orderCols) =>
      val df = spark.table(view)
      val n = df.count()
      assert(n > 0, s"$view must not be empty")
      val keys = df.select(col(key).cast("long")).collect().map(_.getLong(0)).sorted
      assert(keys === (1L to n).toArray, s"$view keys must be dense 1..$n")
      val inKeyOrder = df.orderBy(col(key))
        .select(orderCols.map(col): _*).collect().map(_.toSeq).toSeq
      val inSortOrder = df.orderBy(orderCols.map(col): _*)
        .select(orderCols.map(col): _*).collect().map(_.toSeq).toSeq
      assert(inKeyOrder === inSortOrder,
        s"$view rows in key order must follow (${orderCols.mkString(", ")})")
    }
  }

  test("J4/C3: accuracy view is the one-to-many band join with derived errors") {
    val acc = spark.table("fact_forecast_accuracy").cache()
    // only the +0.5h forecast points are within 1h of the 06:00 obs
    assert(acc.count() === 2)
    val london = acc.filter(col("location_key") === 1).head() // London first alphabetically
    assert(london.getAs[Double]("temp_error_celsius") === 0.5) // 10.5 forecast vs 10.0 actual
    assert(london.getAs[String]("temp_accuracy_category") === "Excellent")
    assert(london.getAs[Boolean]("condition_match")) // Clouds == Clouds
    assert(london.getAs[Boolean]("is_accurate_forecast"))
    val tokyo = acc.filter(col("location_key") === 2).head()
    assert(tokyo.getAs[Double]("temp_absolute_error") === 2.5) // 25.5+15 bias... forecast 25.5 vs 28.0
    assert(tokyo.getAs[String]("temp_accuracy_category") === "Good")
    assert(!tokyo.getAs[Boolean]("condition_match")) // Clouds forecast vs Clear actual
  }

  test("faithful and bucketed band strategies produce identical accuracy rows") {
    val fa = spark.table("fact_weather_actual")
    val ff = spark.table("fact_weather_forecast")
    val clock = FixedClock("2024-01-01 07:00:00")
    val bucketed = FactViews.factForecastAccuracy(ff, fa, clock)
    val faithful = FactViews.factForecastAccuracy(ff, fa, clock, faithful = true)
    val cols = Seq("location_key", "forecast_for_time", "actual_observation_time", "temp_error_celsius")
    assert(bucketed.select(cols.head, cols.tail: _*).exceptAll(faithful.select(cols.head, cols.tail: _*)).count() === 0)
    assert(faithful.select(cols.head, cols.tail: _*).exceptAll(bucketed.select(cols.head, cols.tail: _*)).count() === 0)
  }

  test("Query 1: accuracy by horizon buckets") {
    val q1 = Analytics.accuracyByHorizon(spark.table("fact_forecast_accuracy")).collect()
    assert(q1.length === 1) // both matches are 0.5h horizon
    assert(q1.head.getAs[String]("horizon_bucket") === "0-24 hours")
    assert(q1.head.getAs[Long]("total_forecasts") === 2L)
    assert(q1.head.getAs[Double]("accuracy_pct") === 50.0) // London yes, Tokyo no
  }

  test("Query 2: city ranking ordered by accuracy") {
    val q2 = Analytics.cityRanking(spark.table("fact_forecast_accuracy"), outputs.dimLocation).collect()
    assert(q2.map(_.getAs[String]("location_name")).toSeq === Seq("London", "Tokyo"))
    assert(q2.head.getAs[Double]("accuracy_pct") === 100.0)
  }

  test("Query 3: day summary with injected date") {
    val q3 = Analytics.weatherSummary(
      spark.table("fact_weather_actual"), outputs.dimLocation, to_date(lit("2024-01-01"))).collect()
    assert(q3.length === 2)
    assert(q3.map(_.getAs[String]("location_name")).toSeq === Seq("London", "Tokyo"))
  }

  test("Query 4: quality distribution percent-of-total sums to 100") {
    val q4 = Analytics.qualityDistribution(spark.table("fact_forecast_accuracy")).collect()
    assert(q4.map(_.getAs[Double]("percentage")).sum === 100.0)
    assert(q4.map(_.getAs[String]("temp_accuracy_category")).toSeq === Seq("Excellent", "Good"))
  }

  test("silver re-run is idempotent: dynamic partition overwrite, no double rows") {
    val root = Files.createTempDirectory("graft-pipe3")
    WeatherFixtures.standard(root)
    val layout = Pipeline.Layout(root.toString, s"$root/silver", s"$root/gold")
    val first = Pipeline.run(spark, layout, FixedClock("2024-01-01 07:00:00"))
    assert(first.currentSilver.count() === 2 && first.forecastSilver.count() === 8)
    // re-running the same batch replaces its own date partitions — the
    // old append default silently doubled every silver row
    val second = Pipeline.run(spark, layout, FixedClock("2024-01-01 07:00:00"))
    assert(second.currentSilver.count() === 2)
    assert(second.forecastSilver.count() === 8)
    // observed write metrics accumulated INSIDE the write jobs (no
    // post-write re-scan): rows match the landed counts, the partition
    // range covers the fixture date
    assert(second.writeMetrics("current_weather")("rows_written") === 2L)
    assert(second.writeMetrics("forecast_weather")("rows_written") === 8L)
    assert(second.writeMetrics("current_weather")("min_partition").toString
      .startsWith("2024-01-01"))
  }

  test("materialized gold: persisted fact tables answer the queries with identical results") {
    val root = Files.createTempDirectory("graft-pipe4")
    WeatherFixtures.standard(root)
    val layout = Pipeline.Layout(root.toString, s"$root/silver", s"$root/gold")
    Pipeline.run(spark, layout, FixedClock("2024-01-01 07:00:00"), materializeGold = true)
    assert(new java.io.File(s"$root/gold/fact_forecast_accuracy").exists())
    val q1 = Analytics.accuracyByHorizon(spark.table("fact_forecast_accuracy")).collect()
    assert(q1.length === 1 && q1.head.getAs[Double]("accuracy_pct") === 50.0)
    val q4 = Analytics.qualityDistribution(spark.table("fact_forecast_accuracy")).collect()
    assert(q4.map(_.getAs[String]("temp_accuracy_category")).toSeq === Seq("Excellent", "Good"))
    // restore the lazy-view registration for the other tests in this suite
    Pipeline.run(spark, layout, FixedClock("2024-01-01 07:00:00"))
  }

  test("catalog: a fresh session queries the weather_dwh database with no re-registration") {
    val root = Files.createTempDirectory("graft-pipe5")
    WeatherFixtures.standard(root)
    val layout = Pipeline.Layout(root.toString, s"$root/silver", s"$root/gold")
    Pipeline.run(spark, layout, FixedClock("2024-01-01 07:00:00"),
      materializeGold = true, registerViews = false)
    Pipeline.catalogWarehouse(spark, layout, database = "wx_cat_test")

    // newSession shares the catalog but drops EVERY temp view — the only
    // way the query below can work is through the persistent database
    val fresh = spark.newSession()
    fresh.sql("USE wx_cat_test")
    val q1 = fresh.sql(AnalyticsSql.q1).collect()
    assert(q1.length === 1 && q1.head.getAs[Double]("accuracy_pct") === 50.0)
    assert(fresh.sql("SELECT count(*) AS n FROM wx_cat_test.current_weather").head().getLong(0) === 2L)

    // silver partitions were recovered into the catalog: a date predicate
    // prunes partitions in the scan node (PartitionFilters), so the 100 TB
    // history is never listed for a single-day query
    val p = fresh.table("wx_cat_test.current_weather")
      .filter(col("observation_date") === "2024-01-01")
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("observation_date"), p.take(2000))

    // stats were refreshed at load time: the fresh session's plans see
    // catalog rowCount estimates with NO manual ANALYZE anywhere here
    // (cbo.enabled only switches the estimator that READS them; stats
    // resolve through the thread's ACTIVE session conf, so pin it)
    fresh.conf.set("spark.sql.cbo.enabled", "true")
    org.apache.spark.sql.classic.SparkSession.setActiveSession(
      fresh.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    try {
      val stats = fresh.table("wx_cat_test.fact_forecast_accuracy")
        .queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(2)), stats.toString)
      val dimStats = fresh.table("wx_cat_test.dim_location")
        .queryExecution.optimizedPlan.stats
      assert(dimStats.rowCount.isDefined && dimStats.rowCount.get > 0, dimStats.toString)
    } finally org.apache.spark.sql.classic.SparkSession.setActiveSession(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    // column-level stats landed too (distinct counts on the join keys)
    val cols = fresh.sql("DESCRIBE EXTENDED wx_cat_test.dim_location location_key")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cols.get("distinct_count").exists(_ != "NULL"), cols.toString)

    // external tables: dropping the catalog entry must not delete data
    fresh.sql("DROP TABLE wx_cat_test.dim_date")
    assert(new java.io.File(s"$root/gold/dim_date").exists())
  }

  test("catalog reload is incremental: unchanged tables keep their entry, changed tables re-register") {
    val root = Files.createTempDirectory("graft-pipe6")
    WeatherFixtures.standard(root)
    val layout = Pipeline.Layout(root.toString, s"$root/silver", s"$root/gold")
    Pipeline.run(spark, layout, FixedClock("2024-01-01 07:00:00"),
      materializeGold = true, registerViews = false)
    Pipeline.catalogWarehouse(spark, layout, database = "wx_incr_test")

    def props(table: String): Map[String, String] =
      spark.sql(s"SHOW TBLPROPERTIES wx_incr_test.$table")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // a marker property survives ONLY if the table keeps its catalog
    // entry: a re-registration is DROP + CREATE, which discards it. This
    // is clock-free — the previous version compared second-resolution
    // "Created Time" across a Thread.sleep, which went flaky whenever a
    // slow box coarsened the tick.
    Seq("dim_location", "dim_date").foreach { t =>
      spark.sql(s"ALTER TABLE wx_incr_test.$t SET TBLPROPERTIES ('graft.test.marker' = 'r1')")
    }
    val f0 = props("dim_date")("graft.fingerprint")
    // grow dim_date's location so ONLY its fingerprint changes. The
    // appended file must carry dim_date's FULL schema: CREATE TABLE
    // schema inference reads one footer, and a narrower file (a previous
    // version appended a full_date-only row) can win that race and drop
    // date_key, failing the re-register's ANALYZE ... FOR COLUMNS. An
    // empty append with the real schema still bumps the file count, which
    // is all the fingerprint needs.
    val dimDate = spark.read.parquet(s"$root/gold/dim_date")
    dimDate.limit(0).write.mode("append").parquet(s"$root/gold/dim_date")

    Pipeline.catalogWarehouse(spark, layout, database = "wx_incr_test")
    // unchanged table: same catalog entry (no DROP/CREATE round trip)
    assert(props("dim_location").get("graft.test.marker").contains("r1"),
      "unchanged table was rebuilt")
    // changed table: re-registered (marker discarded) with a fresh fingerprint
    assert(!props("dim_date").contains("graft.test.marker"),
      "changed table was not re-registered")
    assert(props("dim_date")("graft.fingerprint") !== f0, "fingerprint not refreshed")
  }

  test("SCD2 skip branch: second run leaves dim_location untouched") {
    val root = Files.createTempDirectory("graft-pipe2")
    WeatherFixtures.standard(root)
    val layout = Pipeline.Layout(root.toString, s"$root/silver", s"$root/gold")
    Pipeline.run(spark, layout, FixedClock("2024-01-01 07:00:00"))
    val v1 = spark.read.parquet(s"$root/gold/dim_location").collect().toSet
    Pipeline.run(spark, layout, FixedClock("2024-06-01 07:00:00")) // later clock
    val v2 = spark.read.parquet(s"$root/gold/dim_location").collect().toSet
    assert(v1 === v2) // build_dimensions.py:96-97 no-op branch
  }

  test("dim_date widens past the reference range: 2026-12-30 and 2027-01-02 rows reach all three facts") {
    val root = Files.createTempDirectory("graft-pipe-cal")
    val layout = Pipeline.Layout(root.toString, s"$root/silver", s"$root/gold")
    // one London batch per day: the observation plus a forecast for
    // half an hour later; the first day's forecast also covers the
    // second day's observation hour
    def land(n: Int, ts: String, epoch: Long, extra: Seq[(Long, Double, String)]): Unit = {
      val batch = ts.filter(_.isDigit).take(8) + "_060000"
      WeatherFixtures.writeBronze(root, "current", s"data_$n.json", Seq(
        WeatherFixtures.currentJson("London", "GB", temp = 5.0, feelsLike = 3.0,
          humidity = 80, extractionTs = ts, batchId = batch)))
      WeatherFixtures.writeBronze(root, "forecast", s"data_$n.json", Seq(
        WeatherFixtures.forecastJson("London", "GB", ts, batch,
          (epoch + 1800, 5.5, "Clear") +: extra)))
    }
    def dates(table: String, key: String): Set[Int] =
      spark.read.parquet(s"$root/gold/$table").select(key).distinct()
        .collect().map(_.getInt(0)).toSet
    val day2 = 1798869600L // 2027-01-02 06:00:00 UTC
    land(1, "2026-12-30T06:00:00", 1798610400L, Seq((day2, 6.0, "Clear")))
    Pipeline.run(spark, layout, FixedClock("2026-12-30 07:00:00"),
      materializeGold = true, registerViews = false)
    land(2, "2027-01-02T06:00:00", day2, Nil)
    val out = Pipeline.run(spark, layout, FixedClock("2027-01-02 07:00:00"),
      materializeGold = true, registerViews = false)

    val both = Set(20261230, 20270102)
    assert(dates("fact_weather_actual", "date_key") === both)
    assert(dates("fact_weather_forecast", "forecast_created_date_key") === both)
    assert(dates("fact_weather_forecast", "forecast_for_date_key") === both)
    assert(dates("fact_forecast_accuracy", "forecast_for_date_key") === both)
    // never narrower than the reference calendar
    val cal = out.dimDate.agg(min("full_date"), max("full_date")).head()
    assert(cal.getDate(0).toString === "2024-01-01" && cal.getDate(1).toString === "2027-01-02")
  }
}
