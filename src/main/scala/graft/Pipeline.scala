package graft

import graft.etl.{BronzeToSilver, Dimensions}
import graft.etl.Keys.KeyStrategy
import graft.model.{Clock, Schemas, SystemClock}
import graft.sql.FactViews
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** S7: end-to-end pipeline driver — the Spark-native collapse of the
  * reference's EventBridge→Lambda→Glue→Athena orchestration chain
  * (`weather_extractor_lambda.py:82-90`, `README.md:55-59`): one
  * SparkSession, stages invoked in dependency order, clock injected for
  * deterministic runs.
  *
  * Scale defaults: silver writes are dynamic-partition overwrites (a
  * re-run of the same batch replaces its own partitions instead of
  * double-appending), fact keys use the shuffle-free
  * [[graft.etl.Keys.scalableSurrogate]] scheme, and `materializeGold`
  * persists the three fact views as parquet so repeated analytics queries
  * scan gold once instead of recomputing the whole view pipeline per
  * query (Athena-style view inlining is the `materializeGold = false`
  * parity mode).
  */
object Pipeline {

  final case class Layout(bronzeDir: String, silverDir: String, goldDir: String)

  final case class Outputs(
      currentSilver: DataFrame,
      forecastSilver: DataFrame,
      dimLocation: DataFrame,
      dimDate: DataFrame,
      /** Observed write metrics per silver layer (rows_written,
        * min/max partition) — accumulated inside the write jobs
        * themselves, zero extra scans. */
      writeMetrics: Map[String, Map[String, Any]] = Map.empty)

  /** Existence probe through the Hadoop FileSystem API — works on any
    * supported scheme (s3a://, hdfs://, file:/), unlike `java.io.File`. */
  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Bronze→Silver→Gold→views. Reads bronze JSON (explicit permissive
    * schema), writes silver/gold parquet, registers the fact views, and
    * returns the layer DataFrames (read back from parquet so downstream
    * consumers see exactly what was persisted). */
  def run(
      spark: SparkSession,
      layout: Layout,
      clock: Clock = SystemClock,
      keys: KeyStrategy = KeyStrategy.Scalable,
      materializeGold: Boolean = false,
      registerViews: Boolean = true): Outputs = {
    // Stage 1 — bronze → silver (bronze_to_silver.py analog). Overwrite
    // mode + dynamic partitionOverwriteMode (set in Sessions) replaces
    // exactly the date partitions present in this batch: re-running a
    // batch is idempotent, while other dates' partitions are untouched.
    val currentBronze = BronzeToSilver.readBronze(
      spark, s"${layout.bronzeDir}/raw/current/*/*/*/*/*.json", Some(Schemas.currentBronze))
    val forecastBronze = BronzeToSilver.readBronze(
      spark, s"${layout.bronzeDir}/raw/forecast/*/*/*/*/*.json", Some(Schemas.forecastBronze))

    val currentMetrics = BronzeToSilver.writeSilverObserved(
      BronzeToSilver.currentSilver(currentBronze, clock),
      s"${layout.silverDir}/current_weather", "observation_date", mode = "overwrite")
    val forecastMetrics = BronzeToSilver.writeSilverObserved(
      BronzeToSilver.forecastSilver(forecastBronze, clock),
      s"${layout.silverDir}/forecast_weather", "forecast_created_date", mode = "overwrite",
      rangeCols = Seq("forecast_for_date"))

    val currentSilver = spark.read.parquet(s"${layout.silverDir}/current_weather")
    val forecastSilver = spark.read.parquet(s"${layout.silverDir}/forecast_weather")

    // Stage 2 — silver → gold dims (build_dimensions.py analog);
    // SCD2 "exists" branch = skip, matching build_dimensions.py:96-97
    val dimLocPath = s"${layout.goldDir}/dim_location"
    if (!pathExists(spark, dimLocPath))
      Dimensions.writeDim(Dimensions.buildDimLocation(currentSilver, clock), dimLocPath)
    // the calendar covers every date the fact joins use (observation,
    // forecast-created and forecast-for dates), read from the ranges the
    // silver writes observed
    val joinedDates = Seq(currentMetrics, forecastMetrics).flatMap(_.collect {
      case (k, v) if v != null && (k.startsWith("min_") || k.startsWith("max_")) => v.toString
    })
    Dimensions.writeDim(Dimensions.buildDimDate(spark, joinedDates), s"${layout.goldDir}/dim_date")

    val dimLocation = spark.read.parquet(dimLocPath)
    val dimDate = spark.read.parquet(s"${layout.goldDir}/dim_date")

    // Stage 3 — fact views (create_views.sql analog)
    if (materializeGold) {
      val actual = FactViews.factWeatherActual(currentSilver, dimLocation, dimDate, keys)
      val forecast = FactViews.factWeatherForecast(forecastSilver, dimLocation, dimDate, keys)
      actual.write.mode("overwrite").parquet(s"${layout.goldDir}/fact_weather_actual")
      forecast.write.mode("overwrite").parquet(s"${layout.goldDir}/fact_weather_forecast")
      val actualM = spark.read.parquet(s"${layout.goldDir}/fact_weather_actual")
      val forecastM = spark.read.parquet(s"${layout.goldDir}/fact_weather_forecast")
      FactViews.factForecastAccuracy(forecastM, actualM, clock, keys = keys)
        .write.mode("overwrite").parquet(s"${layout.goldDir}/fact_forecast_accuracy")
      if (registerViews) {
        dimLocation.createOrReplaceTempView("dim_location")
        dimDate.createOrReplaceTempView("dim_date")
        actualM.createOrReplaceTempView("fact_weather_actual")
        forecastM.createOrReplaceTempView("fact_weather_forecast")
        spark.read.parquet(s"${layout.goldDir}/fact_forecast_accuracy")
          .createOrReplaceTempView("fact_forecast_accuracy")
      }
    } else if (registerViews) {
      FactViews.registerAll(spark, currentSilver, forecastSilver, dimLocation, dimDate, clock, keys)
    }
    if (registerViews) {
      currentSilver.createOrReplaceTempView("current_weather")
      forecastSilver.createOrReplaceTempView("forecast_weather")
    }

    Outputs(currentSilver, forecastSilver, dimLocation, dimDate,
      Map("current_weather" -> currentMetrics, "forecast_weather" -> forecastMetrics))
  }

  /** Register the persisted warehouse as a named database of EXTERNAL
    * parquet tables — the Spark-catalog analog of the reference's Glue
    * `weather_dwh` database (`create_views.sql:1-4`): a SECOND session
    * can `spark.sql("SELECT ... FROM weather_dwh.fact_forecast_accuracy")`
    * with no re-registration and no pipeline re-run. Tables are external
    * (LOCATION = the layer paths [[run]] wrote), so dropping them never
    * deletes data; silver tables are partitioned and their partitions are
    * recovered into the catalog, so a date predicate prunes at the
    * catalog level (`PartitionFilters`) before any file is listed —
    * the property that turns a 100 TB history scan into a single-day
    * scan. On a real cluster the same calls target the Hive/Glue
    * metastore; locally the in-memory catalog is shared across
    * `newSession()`s, which is what [[graft.fixtures.WeatherDemo
    * .ensureCatalog]]'s fresh-session tests pin.
    *
    * Every layer is registered, gold facts included, and every table
    * gets catalog stats. The DDL fans out over 4 threads, which the
    * in-memory catalog and metastores that take concurrent connections
    * accept. */
  def catalogWarehouse(
      spark: SparkSession,
      layout: Layout,
      database: String = "weather_dwh"): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $database")

    /** Cheap content fingerprint of a table location (total bytes +
      * file count via one `getContentSummary` call). Any append,
      * overwrite, or compaction changes it; used to make repeat loads
      * incremental — an unchanged table keeps its catalog entry, its
      * recovered partitions AND its stats, paying one metadata call
      * instead of a re-scan. (A same-size in-place rewrite could alias,
      * but every writer in this engine goes through new part files.)
      * An absent location fingerprints as "absent" rather than throwing:
      * registering an external table over a not-yet-written path is
      * legal (CREATE succeeds, stats record zero rows), and the
      * fingerprint flips once data lands, forcing the re-register. */
    def fingerprint(path: String): String = {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      try {
        val cs = fs.getContentSummary(p)
        s"${cs.getLength}:${cs.getFileCount}"
      } catch { case _: java.io.FileNotFoundException => "absent" }
    }

    def external(
        name: String,
        path: String,
        partitioned: Boolean,
        statCols: Seq[String]): Unit = {
      // the skip key covers the stats columns as well as the data: a
      // reload that changes the statCols list must re-register even
      // over unchanged bytes, or the new column stats would never land
      val fp = s"${fingerprint(path)}:${statCols.mkString(",")}"
      // ask the catalog first: a failed SHOW on an absent table would
      // log a stack trace on every first load
      val unchanged = spark.catalog.tableExists(database, name) &&
        spark.sql(s"SHOW TBLPROPERTIES $database.$name")
          .collect().exists(r => r.getString(0) == "graft.fingerprint" && r.getString(1) == fp)
      if (unchanged) return

      spark.sql(s"DROP TABLE IF EXISTS $database.$name")
      spark.sql(s"CREATE TABLE $database.$name USING parquet LOCATION '$path'")
      // external partitioned tables start with empty partition metadata;
      // recovery lists the directory tree once and registers each
      // partition (MSCK REPAIR TABLE), after which pruning is a catalog
      // lookup, not a filesystem walk
      if (partitioned) spark.sql(s"MSCK REPAIR TABLE $database.$name")
      // stats refresh at load time: the CBO's join-order and broadcast
      // decisions in FRESH sessions are only as good as catalog stats,
      // and a table loaded without them estimates from file sizes alone.
      // ONE ANALYZE per table: `FOR COLUMNS` computes table-level stats
      // (row count/size) together with the column NDVs, so a separate
      // COMPUTE STATISTICS pass would scan the data twice for nothing.
      // Column stats only for the join/filter keys that decide plans —
      // at 100 TB "FOR ALL COLUMNS" on a fact table is its own scan of
      // every column, so stats cost is budgeted like any other job.
      if (statCols.nonEmpty)
        spark.sql(s"ANALYZE TABLE $database.$name COMPUTE STATISTICS FOR COLUMNS ${statCols.mkString(", ")}")
      else
        spark.sql(s"ANALYZE TABLE $database.$name COMPUTE STATISTICS")
      spark.sql(
        s"ALTER TABLE $database.$name SET TBLPROPERTIES ('graft.fingerprint' = '$fp')")
    }

    val tables: Seq[(String, String, Boolean, Seq[String])] = Seq(
      ("current_weather", s"${layout.silverDir}/current_weather", true, Seq("location_name")),
      ("forecast_weather", s"${layout.silverDir}/forecast_weather", true, Seq("location_name")),
      ("dim_location", s"${layout.goldDir}/dim_location", false,
        Seq("location_key", "location_name", "is_current")),
      ("dim_date", s"${layout.goldDir}/dim_date", false, Seq("date_key", "full_date")),
      ("fact_weather_actual", s"${layout.goldDir}/fact_weather_actual", false,
        Seq("location_key", "date_key")),
      ("fact_weather_forecast", s"${layout.goldDir}/fact_weather_forecast", false,
        Seq("location_key", "forecast_created_date_key", "forecast_for_date_key")),
      ("fact_forecast_accuracy", s"${layout.goldDir}/fact_forecast_accuracy", false,
        Seq("location_key", "forecast_created_date_key")))

    // per-table registration is independent (distinct table names, no
    // shared DDL state beyond the already-created database), so run the
    // DDL+ANALYZE chains concurrently: load wall-clock is the slowest
    // table, not the sum of 7 command-at-a-time round trips. The pool is
    // a small DEDICATED executor, not ExecutionContext.global: the
    // fan-out stays bounded (metastore clients have their own
    // concurrency contracts), and it is shut down on exit so no
    // registration thread outlives the call.
    // Failure drains: every in-flight future is awaited before the first
    // error propagates, so the catalog is quiescent — never still being
    // mutated in the background — when the caller sees the exception.
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val work = tables.map { case (name, path, part, cols) =>
        Future(external(name, path, partitioned = part, statCols = cols))
      }
      val outcomes = work.map(f => scala.util.Try(Await.result(f, Duration.Inf)))
      outcomes.foreach(_.get) // first failure, after all have settled
    } finally {
      pool.shutdown()
    }
  }
}
