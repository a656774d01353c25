package graft.etl

import graft.model.Clock
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Bronze→Silver ETL: flatten nested weather JSON, apply the data-quality
  * gate, derive columns, write date-partitioned parquet.
  *
  * Behavior mirrors `bronze_to_silver.py:24-202` (reference), re-expressed
  * Spark-first:
  *  - explicit permissive schema instead of inference (one scan saved;
  *    `wind.gust` handled by nullability, not runtime probing) — the
  *    inferred-schema path is still supported and keeps the probe
  *    ([[windGust]]) for parity with `bronze_to_silver.py:35-42`.
  *  - injectable [[graft.model.Clock]] instead of `current_timestamp()`.
  *
  * Scale notes: the flatten/filter/derive stages are all narrow (no
  * shuffle); the only wide operation is `dropDuplicates` on
  * (location_name, observation_time), which hash-partitions by the dedup
  * key — exactly the partitioning the downstream date-partitioned write
  * benefits from. Filters sit directly on scan output so Catalyst pushes
  * them into the JSON/parquet reader where possible.
  */
object BronzeToSilver {

  /** S1: multi-line JSON scan with glob (`bronze_to_silver.py:27-33`). */
  def readBronze(spark: SparkSession, path: String, schema: Option[StructType]): DataFrame = {
    val r = spark.read.option("multiLine", "true")
    schema.fold(r)(r.schema(_)).json(path)
  }

  /** P12 parity: runtime schema probe for optional `wind.gust`
    * (`bronze_to_silver.py:35-42`). With the explicit permissive schema the
    * field always exists and this returns `col("wind.gust")` untouched. */
  def windGust(df: DataFrame): Column = {
    val windFields = df.schema.fields
      .find(_.name == "wind")
      .map(_.dataType)
      .collect { case s: StructType => s.fieldNames.toSeq }
      .getOrElse(Seq.empty)
    if (windFields.contains("gust")) col("wind.gust") else lit(0.0)
  }

  /** 24-column flatten + DQ gate + derived fields for current weather
    * (`bronze_to_silver.py:44-109`). */
  def currentSilver(bronze: DataFrame, clock: Clock): DataFrame = {
    val flat = bronze.select(
      col("city_name").alias("location_name"),
      col("country").alias("country_code"),
      col("coord.lat").alias("latitude"),
      col("coord.lon").alias("longitude"),
      to_timestamp(col("extraction_timestamp")).alias("observation_time"),
      col("batch_id"),
      col("main.temp").alias("temperature_celsius"),
      col("main.feels_like").alias("feels_like_celsius"),
      col("main.temp_min").alias("temp_min_celsius"),
      col("main.temp_max").alias("temp_max_celsius"),
      col("main.humidity").alias("humidity_percent"),
      col("main.pressure").alias("pressure_hpa"),
      col("wind.speed").alias("wind_speed_mps"),
      col("wind.deg").alias("wind_direction_deg"),
      coalesce(windGust(bronze), lit(0.0)).alias("wind_gust_mps"),
      col("clouds.all").alias("cloud_cover_percent"),
      coalesce(col("visibility"), lit(10000L)).alias("visibility_meters"),
      col("weather").getItem(0).getField("main").alias("weather_condition"),
      col("weather").getItem(0).getField("description").alias("weather_description"),
      col("timezone").alias("timezone_offset_seconds"),
      from_unixtime(col("sys.sunrise")).cast("timestamp").alias("sunrise_time"),
      from_unixtime(col("sys.sunset")).cast("timestamp").alias("sunset_time"),
      clock.nowTs.alias("processed_timestamp")
    )

    val clean = dataQualityGate(flat)

    clean
      .withColumn("observation_date", to_date(col("observation_time")))
      .withColumn(
        "is_daytime",
        when(col("observation_time").between(col("sunrise_time"), col("sunset_time")), true)
          .otherwise(false))
      .withColumn("heat_index_category", heatIndexCategory(col("feels_like_celsius")))
  }

  /** C5: the data-quality gate — non-null temp, plausibility ranges, dedup
    * (`bronze_to_silver.py:81-88`). */
  def dataQualityGate(df: DataFrame): DataFrame =
    df.filter(col("temperature_celsius").isNotNull)
      .filter(col("temperature_celsius").between(-50, 60))
      .filter(col("humidity_percent").between(0, 100))
      .dropDuplicates(Seq("location_name", "observation_time"))

  /** P9: 5-way heat-index CASE ladder (`bronze_to_silver.py:101-108`). */
  def heatIndexCategory(feelsLike: Column): Column =
    when(feelsLike > 40, "Extreme Heat")
      .when(feelsLike > 32, "High Heat")
      .when(feelsLike > 26, "Moderate")
      .when(feelsLike > 10, "Comfortable")
      .otherwise("Cold")

  /** Forecast: explode the 40-point `list` array, flatten, derive horizon
    * (`bronze_to_silver.py:124-179`). */
  def forecastSilver(bronze: DataFrame, clock: Clock): DataFrame = {
    val exploded = bronze.select(
      col("city_name").alias("location_name"),
      col("country").alias("country_code"),
      to_timestamp(col("extraction_timestamp")).alias("forecast_created_time"),
      col("batch_id"),
      explode(col("list")).alias("forecast_point")
    )

    exploded
      .select(
        col("location_name"),
        col("country_code"),
        col("forecast_created_time"),
        col("batch_id"),
        from_unixtime(col("forecast_point.dt")).cast("timestamp").alias("forecast_for_time"),
        col("forecast_point.main.temp").alias("temperature_celsius_forecast"),
        col("forecast_point.main.feels_like").alias("feels_like_celsius_forecast"),
        col("forecast_point.main.humidity").alias("humidity_percent_forecast"),
        col("forecast_point.main.pressure").alias("pressure_hpa_forecast"),
        col("forecast_point.wind.speed").alias("wind_speed_mps_forecast"),
        col("forecast_point.wind.deg").alias("wind_direction_deg_forecast"),
        col("forecast_point.clouds.all").alias("cloud_cover_percent_forecast"),
        coalesce(col("forecast_point.pop"), lit(0.0)).alias("precipitation_probability"),
        col("forecast_point.weather").getItem(0).getField("main").alias("weather_condition_forecast"),
        clock.nowTs.alias("processed_timestamp")
      )
      .withColumn("forecast_for_date", to_date(col("forecast_for_time")))
      .withColumn("forecast_created_date", to_date(col("forecast_created_time")))
      .withColumn("forecast_horizon_hours", horizonHours(col("forecast_for_time"), col("forecast_created_time")))
  }

  /** C4: forecast horizon in hours, rounded to 0.1
    * (`bronze_to_silver.py:171-178`). */
  def horizonHours(forecastFor: Column, createdAt: Column): Column =
    round((unix_timestamp(forecastFor) - unix_timestamp(createdAt)) / 3600.0, 1)

  /** S3: partitioned parquet append sink (`bronze_to_silver.py:114-117`).
    * `mode` defaults to append for parity; callers doing re-runs should use
    * dynamic partition overwrite (SURVEY §7.4 item 6). */
  def writeSilver(df: DataFrame, path: String, partitionCol: String, mode: String = "append"): Unit =
    df.write.partitionBy(partitionCol).mode(mode).parquet(path)

  /** [[writeSilver]] with observed write metrics (`Dataset.observe`):
    * row count and partition-column range accumulate INSIDE the write
    * job itself — the operational numbers a pipeline reports per batch
    * (reference analog: Glue job metrics) without the second full scan
    * a `df.count()` would cost. At 100 TB a post-write count re-reads
    * the layer; observation is free. Each of `rangeCols` adds its
    * `min_<col>`/`max_<col>` to the same observation. */
  def writeSilverObserved(
      df: DataFrame,
      path: String,
      partitionCol: String,
      mode: String = "append",
      rangeCols: Seq[String] = Nil): Map[String, Any] = {
    val obs = org.apache.spark.sql.Observation()
    val ranges = rangeCols.flatMap(c => Seq(
      min(col(c)).cast("string").alias(s"min_$c"),
      max(col(c)).cast("string").alias(s"max_$c")))
    df.observe(
        obs,
        count(lit(1)).alias("rows_written"),
        min(col(partitionCol)).cast("string").alias("min_partition") +:
          max(col(partitionCol)).cast("string").alias("max_partition") +: ranges: _*)
      .write.partitionBy(partitionCol).mode(mode).parquet(path)
    obs.get
  }
}
