package graft.etl

import graft.model.Clock
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gold-layer dimension builders: SCD2 initial load + generated calendar.
  * Mirrors `build_dimensions.py:26-161`, re-expressed Spark-first.
  *
  * Scale notes:
  *  - [[scd2InitialLoad]] uses an unpartitioned `row_number` window — a
  *    deliberate choice: dimensions are small by definition (the reference
  *    dim is 8 rows; even a 100M-row dimension sorts on one 2 GB
  *    partition). For fact-side surrogate keys at 100 TB use
  *    [[Keys.scalableSurrogate]] instead (no global sort).
  *  - [[calendar]] generates rows distributed via
  *    `explode(sequence(...))`, not a driver-side collection (the
  *    reference builds a Python list on the driver,
  *    `build_dimensions.py:101-110`).
  */
object Dimensions {

  /** P9 analog: 8-way timezone-name CASE (`build_dimensions.py:38-48`). */
  def timezoneName(offsetSeconds: Column): Column =
    when(offsetSeconds === -18000, "EST")
      .when(offsetSeconds === 0, "GMT")
      .when(offsetSeconds === 32400, "JST")
      .when(offsetSeconds === 36000, "AEST")
      .when(offsetSeconds === 19800, "IST")
      .when(offsetSeconds === 14400, "GST")
      .when(offsetSeconds === -10800, "BRT")
      .otherwise("UTC")

  /** C1: generic SCD Type 2 initial load (`build_dimensions.py:63-94`).
    *
    * Takes the distinct attribute tuples of the dimension grain, assigns a
    * dense surrogate key by `orderCols` (callers MUST pass a total order —
    * ties make keys engine-dependent, SURVEY §7.4 item 2), and stamps the
    * SCD2 bookkeeping columns from the injected clock.
    */
  def scd2InitialLoad(
      attrs: DataFrame,
      surrogateName: String,
      orderCols: Seq[Column],
      clock: Clock): DataFrame =
    attrs
      // constant partition key: dense ordered dim keys REQUIRE a single
      // sorted partition; partitionBy(lit) states that on purpose (the
      // bare Window.orderBy form emits the accidental-scale-hazard
      // WindowExec warning on every dim build). Dims are small by
      // definition — fact keys use Keys.scalableSurrogate instead.
      .withColumn(surrogateName, row_number().over(Window.partitionBy(lit(0)).orderBy(orderCols: _*)))
      .withColumn("effective_from_date", clock.nowDate)
      .withColumn("effective_to_date", lit("9999-12-31").cast("date"))
      .withColumn("is_current", lit(true))
      .withColumn("version", lit(1))
      .withColumn("created_timestamp", clock.nowTs)
      .withColumn("updated_timestamp", clock.nowTs)

  /** Full SCD Type 2 incremental merge — the part the reference leaves as
    * a no-op ("dimension exists, no updates needed",
    * `build_dimensions.py:96-97`). Plain-parquet semantics: read → union
    * → rewrite (no ACID table format present).
    *
    * For each natural key in `attrs`:
    *  - attributes unchanged → current row kept as-is;
    *  - attributes changed  → current row expired (`effective_to_date` =
    *    merge date, `is_current` = false) and a new version inserted
    *    (version+1, new surrogate key above the existing maximum);
    *  - new key             → version 1 inserted.
    * Keys absent from `attrs` keep their current row (dimensions retire
    * members explicitly, not by omission). History rows pass through
    * untouched.
    *
    * Scale: one shuffle on the natural key (the full-outer join); the
    * max-key scalar is a broadcast; new surrogate assignment sorts only
    * the NEW rows (dimension-delta-sized, not dimension-sized).
    */
  def scd2Merge(
      existing: DataFrame,
      attrs: DataFrame,
      naturalKeys: Seq[String],
      surrogateName: String,
      orderCols: Seq[String],
      clock: Clock): DataFrame = {
    val attrCols = attrs.columns.filterNot(naturalKeys.contains).toSeq
    val bookkeeping = Seq(surrogateName, "effective_from_date", "effective_to_date",
      "is_current", "version", "created_timestamp", "updated_timestamp")

    val current = existing.filter(col("is_current") === true)
    val history = existing.filter(col("is_current") === false)

    val incoming = attrs.select((naturalKeys ++ attrCols).map(col): _*).distinct()
      .withColumn("__has_incoming", lit(true))
    val curForJoin = current.select(
      naturalKeys.map(col) ++
        attrCols.map(c => col(c).alias(s"__cur_$c")) ++
        bookkeeping.map(c => col(c).alias(s"__bk_$c")): _*)

    val joined = incoming.join(curForJoin, naturalKeys, "full_outer")
    val attrChanged = attrCols
      .map(c => !(col(c) <=> col(s"__cur_$c")))
      .reduceOption(_ || _)
      .getOrElse(lit(false))
    val isNewKey = col(s"__bk_$surrogateName").isNull
    val keyAbsentFromAttrs = col("__has_incoming").isNull

    // unchanged current rows + current rows whose key didn't arrive
    val kept = joined
      .filter(!isNewKey && (!attrChanged || keyAbsentFromAttrs))
      .select(
        naturalKeys.map(col) ++
          attrCols.map(c => coalesce(col(s"__cur_$c"), col(c)).alias(c)) ++
          bookkeeping.map(c => col(s"__bk_$c").alias(c)): _*)

    // expired versions of changed keys
    val expired = joined
      .filter(!isNewKey && attrChanged && !keyAbsentFromAttrs)
      .select(
        naturalKeys.map(col) ++
          attrCols.map(c => col(s"__cur_$c").alias(c)) ++
          bookkeeping.map(c => col(s"__bk_$c").alias(c)): _*)
      .withColumn("effective_to_date", clock.nowDate)
      .withColumn("is_current", lit(false))
      .withColumn("updated_timestamp", clock.nowTs)

    // fresh versions: changed keys (version+1) and brand-new keys (v1)
    val maxKey = current.agg(coalesce(max(col(surrogateName)), lit(0)).alias("__mk"))
    val fresh = joined
      .filter(isNewKey || (attrChanged && !keyAbsentFromAttrs))
      .select(
        naturalKeys.map(col) ++ attrCols.map(col) :+
          coalesce(col(s"__bk_version") + 1, lit(1)).alias("version"): _*)
      // dim-delta-sized input; constant partition key as in scd2InitialLoad
      .withColumn("__rn", row_number().over(Window.partitionBy(lit(0)).orderBy(orderCols.map(col): _*)))
      .crossJoin(broadcast(maxKey))
      .withColumn(surrogateName, (col("__mk") + col("__rn")).cast("int"))
      .drop("__rn", "__mk")
      .withColumn("effective_from_date", clock.nowDate)
      .withColumn("effective_to_date", lit("9999-12-31").cast("date"))
      .withColumn("is_current", lit(true))
      .withColumn("created_timestamp", clock.nowTs)
      .withColumn("updated_timestamp", clock.nowTs)

    val outCols = (naturalKeys ++ attrCols ++ bookkeeping).map(col)
    history.select(outCols: _*)
      .unionByName(kept.select(outCols: _*))
      .unionByName(expired.select(outCols: _*))
      .unionByName(fresh.select(outCols: _*))
  }

  /** Snapshot-isolated SCD2 merge against a [[graft.store.SnapshotStore]]
    * table: read the newest committed dimension snapshot, fold the
    * incoming attributes through [[scd2Merge]], commit the result as the
    * next version. The read-union-rewrite is the same; what changes is
    * visibility — a reader racing the merge resolves the previous
    * commit marker until the new snapshot is fully durable, so it sees
    * the old dimension or the new one, never a half-rewritten mix (the
    * gap a plain `mode("overwrite")` rewrite leaves open, reference
    * `build_dimensions.py:93`). Returns the committed version. */
  def scd2MergeCommit(
      spark: SparkSession,
      table: String,
      attrs: DataFrame,
      naturalKeys: Seq[String],
      surrogateName: String,
      orderCols: Seq[String],
      clock: Clock): Long = {
    val existing = graft.store.SnapshotStore.read(spark, table)
    graft.store.SnapshotStore.commit(
      scd2Merge(existing, attrs, naturalKeys, surrogateName, orderCols, clock), table)
  }

  /** dim_location from current-weather silver: D2 distinct attribute
    * tuples + timezone name + SCD2 load (`build_dimensions.py:30-94`). */
  def buildDimLocation(currentSilver: DataFrame, clock: Clock): DataFrame = {
    val attrs = currentSilver
      .select(
        col("location_name"),
        col("country_code"),
        col("latitude"),
        col("longitude"),
        col("timezone_offset_seconds"))
      .distinct()
      .withColumn("timezone_name", timezoneName(col("timezone_offset_seconds")))
    // reference orders by location_name alone (build_dimensions.py:68);
    // country_code breaks hypothetical ties for cross-engine determinism.
    scd2InitialLoad(attrs, "location_key", Seq(col("location_name"), col("country_code")), clock)
  }

  /** S5 + C2: calendar dimension, generated distributed
    * (`build_dimensions.py:99-148`). 11 derived attributes; `dayofweek` is
    * Spark/Java numbering (1=Sunday..7=Saturday), identical to the
    * reference's PySpark `dayofweek`. */
  def calendar(spark: SparkSession, startDate: String, endDate: String): DataFrame =
    spark
      .sql(s"SELECT explode(sequence(to_date('$startDate'), to_date('$endDate'), interval 1 day)) AS full_date")
      .withColumn("date_key", date_format(col("full_date"), "yyyyMMdd").cast("int"))
      .withColumn("year", year(col("full_date")))
      .withColumn("quarter", quarter(col("full_date")))
      .withColumn("month", month(col("full_date")))
      .withColumn("month_name", date_format(col("full_date"), "MMMM"))
      .withColumn("day", dayofmonth(col("full_date")))
      .withColumn("day_of_week", dayofweek(col("full_date")))
      .withColumn("day_name", date_format(col("full_date"), "EEEE"))
      .withColumn("week_of_year", weekofyear(col("full_date")))
      .withColumn("is_weekend", when(dayofweek(col("full_date")).isin(1, 7), true).otherwise(false))
      .withColumn("is_holiday", lit(false))

  /** The reference's dim_date range (`build_dimensions.py:101-102`),
    * widened to cover every ISO `yyyy-MM-dd` date in `dates` — the
    * facts inner-join this calendar, so a date outside it would drop
    * its rows silently. */
  def buildDimDate(spark: SparkSession, dates: Seq[String] = Nil): DataFrame =
    calendar(spark, ("2024-01-01" +: dates).min, ("2026-12-31" +: dates).max)

  /** S4: full-rebuild parquet sink (`build_dimensions.py:93`, `:147`). */
  def writeDim(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)
}

/** Surrogate-key helpers. */
object Keys {

  /** How fact-table surrogate keys are generated. Downstream analytics
    * never read fact keys (they are row identities, not join keys — the
    * reference's queries join on the DIM keys only, `sample_queries
    * .sql:25,40`), so results are invariant to the choice; the
    * `wx_q{1,4}_parity_keys` CORRECTNESS entries prove it. */
  sealed trait KeyStrategy

  object KeyStrategy {
    /** Default scale path: unique (not dense, not ordered) 64-bit ids —
      * no shuffle, no sort, survives 100 TB. */
    case object Scalable extends KeyStrategy

    /** Reference parity (`create_views.sql:8,41,73`): dense ordered
      * `row_number` over an unpartitioned window — a single-partition
      * sort, the one plan shape that dies at scale. Opt-in oracle mode. */
    case object ParityRowNumber extends KeyStrategy
  }

  /** W1 parity: global `row_number` key (`create_views.sql:8`). Single
    * partition sort — correct but a scale bottleneck; prefer
    * [[scalableSurrogate]] for fact tables. */
  def globalRowNumber(df: DataFrame, name: String, orderCols: Seq[Column]): DataFrame =
    df.withColumn(name, row_number().over(Window.orderBy(orderCols: _*)))

  /** Scale path: unique (not dense, not ordered) 64-bit surrogate built
    * from the partition id + per-partition offset. No shuffle, no sort —
    * survives 100 TB. Use when key *uniqueness* is the requirement
    * (fact keys), not dense ordering (small dim keys). */
  def scalableSurrogate(df: DataFrame, name: String): DataFrame =
    df.withColumn(name, monotonically_increasing_id())

  /** Apply the chosen fact-key strategy. `orderCols` define the parity
    * mode's total order; ignored by the scalable path. */
  def surrogate(df: DataFrame, name: String, orderCols: Seq[Column], strategy: KeyStrategy): DataFrame =
    strategy match {
      case KeyStrategy.Scalable => scalableSurrogate(df, name)
      case KeyStrategy.ParityRowNumber => globalRowNumber(df, name, orderCols)
    }
}
