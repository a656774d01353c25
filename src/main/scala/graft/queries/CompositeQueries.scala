package graft.queries

import graft.etl.Dimensions
import graft.model.FixedClock
import graft.ops.{BandJoin, Bucketing, Skew}
import graft.sql.{Analytics, FactViews}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Composite / pipeline-level correctness queries (SURVEY §2.11: C1-C5,
  * plus the J4 band join): the weather-warehouse library functions
  * exercised over the driver's test tables with DuckDB oracles.
  */
object CompositeQueries {

  type Q = (SparkSession, String) => DataFrame

  private val MicrosPerHour = 3600L * 1000000L

  /** J4: band self-join on events — same user, |Δt| < 1 h, id1 < id2 —
    * via the bucketed strategy ([[graft.ops.BandJoin.bucketed]]). The
    * oracle runs the faithful theta-join form; results must be identical
    * (that is the point: the bucketed rewrite is a pure optimization). */
  val j4BandJoin: Q = (s, d) => {
    val e = Tables.events(s, d)
    val left = e.select(col("user_id"), col("event_id").alias("id1"), col("ts_us").alias("l_us"))
    val right = e.select(col("user_id"), col("event_id").alias("id2"), col("ts_us").alias("r_us"))
    BandJoin.bucketed(left, right, Seq("user_id"), "l_us", "r_us", MicrosPerHour)
      .filter(col("id1") < col("id2"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).alias("pair_count"))
      .orderBy(col("user_id"))
  }

  /** SK2 (beyond reference parity): the j4 band join through the
    * skew-armored salted strategy ([[graft.ops.BandJoin.saltedBucketed]])
    * — identical results to [[j4BandJoin]] (it shares j4's faithful
    * theta-join oracle), with a hot (user × hour) spread over 8 salt
    * partitions. */
  val skSaltedBandJoin: Q = (s, d) => {
    val e = Tables.events(s, d)
    val left = e.select(col("user_id"), col("event_id").alias("id1"), col("ts_us").alias("l_us"))
    val right = e.select(col("user_id"), col("event_id").alias("id2"), col("ts_us").alias("r_us"))
    BandJoin.saltedBucketed(left, right, Seq("user_id"), "l_us", "r_us", MicrosPerHour,
      leftSaltCols = Seq("id1"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).alias("pair_count"))
      .orderBy(col("user_id"))
  }

  /** J4b (beyond reference parity): as-of nearest-match band join
    * ([[graft.ops.BandJoin.asOf]]) — each purchase matched to its closest
    * view by the same user within 1 h. */
  val j4bAsOfJoin: Q = (s, d) => {
    val e = Tables.events(s, d)
    val left = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").alias("purchase_id"), col("ts_us").alias("p_us"))
    val right = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").alias("view_id"), col("ts_us").alias("v_us"))
    BandJoin.asOf(left, right, Seq("user_id"), "p_us", "v_us", MicrosPerHour, Seq("purchase_id"))
      .select(col("user_id"), col("purchase_id"), col("view_id"),
        (col("v_us") - col("p_us")).alias("delta_us"))
      .orderBy(col("purchase_id"))
  }

  /** J4c (beyond reference parity): the NATIVE as-of join operator
    * ([[graft.ops.AsOfNative]] → `AsOfJoinExec`): each purchase matched
    * to the LATEST view ≤ purchase time within 1 h, per user —
    * backward-with-tolerance semantics executed as a per-partition
    * two-pointer merge (one exchange + sort per side; no bucket
    * explode, no window). Right side pre-deduped per (user, instant)
    * for the operator's determinism contract. */
  val j4cAsofNative: Q = (s, d) => {
    val e = Tables.events(s, d)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").alias("purchase_id"), col("ts_us").alias("pt"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts_us").alias("vt"))
      .agg(max(col("event_id")).alias("view_id"))
    graft.ops.AsOfNative.join(p, v, Seq("user_id"), "pt", "vt", MicrosPerHour)
      .select(col("user_id"), col("purchase_id"),
        coalesce(col("view_id_r"), lit(-1L)).alias("view_id"),
        coalesce(col("pt") - col("vt_r"), lit(-1L)).alias("delta_us"))
      .orderBy(col("purchase_id"))
  }

  /** J4d (beyond reference parity): the native as-of operator in
    * FORWARD mode — each view matched to the EARLIEST purchase ≥ view
    * time within 1 h (the st3 attribution direction, reduced to one
    * best match per view by the operator instead of a window). */
  val j4dAsofForward: Q = (s, d) => {
    val e = Tables.events(s, d)
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").alias("view_id"), col("ts_us").alias("vt"))
    val p = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts_us").alias("pt"))
      .agg(min(col("event_id")).alias("purchase_id"))
    graft.ops.AsOfNative.join(v, p, Seq("user_id"), "vt", "pt", MicrosPerHour,
      forward = true)
      .select(col("user_id"), col("view_id"),
        coalesce(col("purchase_id_r"), lit(-1L)).alias("purchase_id"),
        coalesce(col("pt_r") - col("vt"), lit(-1L)).alias("delta_us"))
      .orderBy(col("view_id"))
  }

  /** J4e (beyond reference parity): the native INTERVAL join operator
    * ([[graft.ops.AsOfNative.rangeJoin]] → `RangeJoinExec`): all
    * view↔purchase pairs within |Δt| ≤ 1 h per user — J4's band
    * semantics with one shuffle per side and a window-bounded buffer
    * instead of the composed bucket + ×3 explode. */
  val j4eRangeNative: Q = (s, d) => {
    val e = Tables.events(s, d)
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").alias("view_id"), col("ts_us").alias("vt"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").alias("purchase_id"), col("ts_us").alias("pt"))
    graft.ops.AsOfNative.rangeJoin(p, v, Seq("user_id"), "pt", "vt", MicrosPerHour)
      .select(col("user_id"), col("view_id_r").alias("view_id"), col("purchase_id"),
        (col("vt_r") - col("pt")).alias("delta_us"))
      .orderBy(col("view_id"), col("purchase_id"))
  }

  /** C6 (beyond reference parity): gap-based sessionization — the
    * flatMapGroupsWithState operator ([[graft.streaming.EventStreams.sessionize]])
    * run in batch, verified against a relational gaps-and-islands oracle. */
  val c6Sessionize: Q = (s, d) => {
    import s.implicits._
    val events = Tables.events(s, d)
      .select(col("user_id"), col("event_time"), col("event_type"), col("value"))
      .as[graft.streaming.EventStreams.Event]
    graft.streaming.EventStreams.sessionize(events, gapMinutes = 30)
      .toDF()
      .select(
        col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        col("n_events"),
        round(col("value_sum"), 2).alias("value_sum"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** ST1 (beyond reference parity): tumbling-window aggregation — the
    * Structured-Streaming operator ([[graft.streaming.EventStreams.windowedCounts]])
    * evaluated in batch, verified against a DuckDB time_bucket oracle. */
  val st1WindowedCounts: Q = (s, d) =>
    graft.streaming.EventStreams.windowedCounts(Tables.events(s, d), "1 hour", "2 hours")
      .select(
        date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        col("event_type"),
        col("n"),
        col("value_sum"))
      .orderBy(col("window_start"), col("event_type"))

  /** ST2 (beyond reference parity): stream-static enrichment — windowed
    * counts joined to a small static event-type dimension
    * ([[graft.streaming.EventStreams.enrichedWindowedCounts]], broadcast,
    * stateless). 'error' is deliberately unmapped: the left join keeps it
    * with a null category. */
  val st2StreamStatic: Q = (s, d) => {
    import s.implicits._
    val dim = Seq(
      ("click", "engagement"), ("view", "engagement"),
      ("purchase", "revenue"), ("signup", "growth")).toDF("event_type", "category")
    graft.streaming.EventStreams.enrichedWindowedCounts(Tables.events(s, d), dim, "1 hour", "2 hours")
      .select(
        date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        col("event_type"),
        col("category"),
        col("n"),
        col("value_sum"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** ST11 (beyond reference parity): streaming AS-OF (temporal) join —
    * each purchase enriched with the user's latest at-or-before view
    * within 1 h ([[graft.streaming.EventStreams.asOfEnrichStream]]:
    * interval join + watermark-evicted latest-wins aggregate), run in
    * batch with a window-rank oracle. The two-stateful-operator
    * streaming path is exercised in `StreamingSpec`. */
  val st11AsofEnrich: Q = (s, d) => {
    val e = Tables.events(s, d)
    def side(t: String) = e.filter(col("event_type") === t)
      .select(col("user_id"), col("event_id"), col("event_time"))
    graft.streaming.EventStreams.asOfEnrichStream(side("view"), side("purchase"), "1 hour", "2 hours")
      .select(col("user_id"), col("purchase_id"),
        coalesce(col("view_id"), lit(-1L)).alias("view_id"),
        coalesce(col("view_lag_sec"), lit(-1L)).alias("view_lag_sec"))
      .orderBy(col("purchase_id"))
  }

  /** ST3 (beyond reference parity): stream-stream interval join — the
    * view→purchase attribution join
    * ([[graft.streaming.EventStreams.viewPurchaseAttribution]]) run in
    * batch (watermarks analyzer-eliminated), verified against a DuckDB
    * range-join oracle. The streaming path (state bounded by watermark +
    * horizon, cross-micro-batch matching) is exercised in
    * `StreamingSpec`. */
  val st3IntervalJoin: Q = (s, d) => {
    val e = Tables.events(s, d)
    graft.streaming.EventStreams.viewPurchaseAttribution(
      e.filter(col("event_type") === "view"),
      e.filter(col("event_type") === "purchase"), "1 hour", "2 hours")
      .select(col("user_id"), col("view_id"), col("purchase_id"))
      .orderBy(col("view_id"), col("purchase_id"))
  }

  /** ST6 (beyond reference parity): the LEFT-OUTER stream-stream interval
    * join ([[graft.streaming.EventStreams.viewPurchaseAttribution]] with
    * joinType=left_outer) run in batch — views with no in-horizon
    * purchase survive null-extended (streamed, they are emitted when the
    * purchase watermark passes the horizon; `StreamingSpec` pins that
    * path cross-micro-batch). Nulls normalized to -1 so both engines
    * sort identically. */
  val st6OuterIntervalJoin: Q = (s, d) => {
    val e = Tables.events(s, d)
    graft.streaming.EventStreams.viewPurchaseAttribution(
      e.filter(col("event_type") === "view"),
      e.filter(col("event_type") === "purchase"), "1 hour", "2 hours",
      joinType = "left_outer")
      .select(col("user_id"), col("view_id"),
        coalesce(col("purchase_id"), lit(-1L)).alias("purchase_id"))
      .orderBy(col("view_id"), col("purchase_id"))
  }

  /** ST7 (beyond reference parity): Bloom-prefiltered stream ingest
    * ([[graft.streaming.EventStreams.bloomFilteredWindowedCounts]]) —
    * irrelevant events are dropped at the SOURCE scan by a Bloom of the
    * interesting-key set (here: users with ≥3 purchases), false
    * positives removed by the stateless broadcast semi join, and only
    * the survivors reach the watermarked aggregation. Evaluated in
    * batch for the oracle; the cross-micro-batch streaming path is
    * exercised in `StreamingSpec`. */
  val st7BloomPrefilter: Q = (s, d) => {
    val e = Tables.events(s, d)
    val vips = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").alias("vip_id"))
      .agg(count(lit(1)).alias("n_purch"))
      .filter(col("n_purch") >= 3)
      .select(col("vip_id"))
    graft.streaming.EventStreams.bloomFilteredWindowedCounts(
      e, vips, "vip_id", "user_id", "1 hour", "2 hours")
      .select(
        date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        col("event_type"),
        col("n"),
        col("value_sum"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** ST8 (beyond reference parity): grouped top-k leaderboard
    * ([[graft.streaming.EventStreams.groupedTopK]]) — batch path runs
    * the NATIVE grouped top-k; the streaming path (bounded
    * flatMapGroupsWithState heap state, O(groups·k)) is proven
    * batch-parity in `StreamingSpec`. */
  val st8StreamTopk: Q = (s, d) =>
    graft.streaming.EventStreams.groupedTopK(Tables.events(s, d), 10)
      .select(col("event_type"), col("rank"), col("event_id"),
        round(col("value"), 4).alias("value"))
      .orderBy(col("event_type"), col("rank"))

  /** ST12 (beyond reference parity): per-user running (count, cents-sum)
    * profile — the batch window plan of
    * [[graft.streaming.EventStreams.runningUserStats]]; the streaming
    * path (Spark 4 `transformWithState`, ValueState per user in the
    * RocksDB store) is proven batch-parity cross-micro-batch in
    * `StreamingSpec`. */
  val st12TwsRunning: Q = (s, d) =>
    graft.streaming.EventStreams.runningUserStats(
      Tables.events(s, d).filter(col("user_id") < 50))
      .orderBy(col("user_id"), col("n_so_far"))

  /** ST13 (beyond reference parity): RATE-LIMITED change-feed catch-up
    * — a snapshot table with a base image plus three year-sliced
    * appends drains through `maxFilesPerTrigger=1` under
    * `Trigger.AvailableNow`: the fixture REQUIRES ≥3 admission-bounded
    * micro-batches (one unbounded batch would be the pre-admission
    * behavior) and sinks the feed to parquet; the query aggregates the
    * sunk rows per change type and year. At 100 TB this is the
    * contract that a stream starting against a long history never
    * takes a cluster-sized batch. Oracle replays the feed algebra:
    * the image carries the base rows, each append carries its year. */
  val st13FeedRatelimit: Q = (s, d) => {
    val root = Fixtures.dir("st13rate", d) { base =>
      val t = s"$base/t"
      val orders = Tables.orders(s, d)
      graft.store.SnapshotStore.commit(
        orders.filter(year(col("o_orderdate")) < 1995).repartition(2), t)
      Seq(1995, 1996).foreach(y => graft.store.SnapshotStore.appendCommit(
        orders.filter(year(col("o_orderdate")) === y).coalesce(1), t))
      graft.store.SnapshotStore.appendCommit(
        orders.filter(year(col("o_orderdate")) >= 1997).coalesce(1), t)
      val ckpt = s"$base/ckpt"
      val q = s.readStream.format("graft-snapshot")
        .option("path", t).option("changeFeed", "true")
        .option("maxFilesPerTrigger", "1").load()
        .writeStream.format("parquet").option("path", s"$base/out")
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val fs = new org.apache.hadoop.fs.Path(ckpt)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val nBatches = fs.listStatus(new org.apache.hadoop.fs.Path(s"$ckpt/offsets"))
        .count(st => st.getPath.getName.forall(_.isDigit))
      require(nBatches >= 3,
        s"st13 expects admission control to split catch-up into >=3 batches, got $nBatches")
    }
    s.read.parquet(s"$root/out")
      .groupBy(col("_change_type"), year(col("o_orderdate")).alias("yr"))
      .agg(
        count(lit(1)).alias("n_rows"),
        sum(round(col("o_totalprice") * 100).cast("long")).alias("cents"))
      .orderBy(col("_change_type"), col("yr"))
  }

  /** ST10 (beyond reference parity): per-window distribution drift
    * ([[graft.streaming.EventStreams.distributionDrift]]) — each hourly
    * window's event-type mix scored (KL, TV) against the overall
    * distribution as baseline. */
  val st10Drift: Q = (s, d) => {
    val e = Tables.events(s, d)
    val baseline = e.groupBy(col("event_type")).agg(count(lit(1)).alias("q_count"))
    val wc = graft.streaming.EventStreams.windowedCounts(e, "1 hour", "2 hours")
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        col("event_type"), col("n"))
    graft.streaming.EventStreams.distributionDrift(wc, baseline)
      .orderBy(col("window_start"))
  }

  /** ST4 (beyond reference parity): streaming exact dedup
    * ([[graft.streaming.EventStreams.dedupStream]]) run in batch over a
    * doubled feed (events ∪ events) keyed by event_id — every row arrives
    * exactly twice and must survive exactly once. The streaming path
    * (`dropDuplicatesWithinWatermark`, watermark-evicted state) is
    * exercised cross-micro-batch in `StreamingSpec`; this entry oracles
    * the shared key-dedup semantics. */
  val st4StreamDedup: Q = (s, d) => {
    val e = Tables.events(s, d)
      .filter(col("user_id") < 50)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("event_time"))
    graft.streaming.EventStreams.dedupStream(e.union(e), "event_time", Seq("event_id"))
      .select(col("event_id"), col("user_id"), col("event_type"), round(col("value"), 4).alias("value"))
      .orderBy(col("event_id"))
  }

  /** ST5 (beyond reference parity): Spark's NATIVE `session_window`
    * operator — gap-based sessions as a groupBy key, no custom state
    * code at all. Complements the two custom paths (c6 gaps-and-islands
    * window plan for batch, flatMapGroupsWithState for streaming): at
    * 100 TB the native operator merges session candidates inside the
    * aggregation (partial merge, spill-able), one shuffle on user_id.
    * Note session_window.end = last event + gap (not the last event —
    * the oracle models the + INTERVAL explicitly). */
  val st5SessionWindow: Q = (s, d) =>
    Tables.events(s, d)
      .filter(col("user_id") < 50)
      .groupBy(col("user_id"), session_window(col("event_time"), "30 minutes"))
      .agg(
        count(lit(1)).cast("int").alias("n_events"),
        round(sum(col("value")), 4).alias("value_sum"))
      .select(
        col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        col("n_events"), col("value_sum"))
      .orderBy(col("user_id"), col("session_start"))

  /** C1: SCD2 initial load over customer-derived attribute tuples with a
    * fixed injected clock ([[graft.etl.Dimensions.scd2InitialLoad]]). */
  val c1Scd2: Q = (s, d) => {
    val clock = FixedClock("2024-06-01 00:00:00")
    val attrs = Tables.customer(s, d)
      .select(col("c_name"), col("c_nationkey"), col("c_mktsegment"))
      .distinct()
    Dimensions.scd2InitialLoad(attrs, "customer_key", Seq(col("c_name")), clock)
      .select(
        col("customer_key"),
        col("c_name"),
        col("c_nationkey"),
        col("c_mktsegment"),
        date_format(col("effective_from_date"), "yyyy-MM-dd").alias("eff_from"),
        date_format(col("effective_to_date"), "yyyy-MM-dd").alias("eff_to"),
        col("is_current").cast("int").alias("is_current"),
        col("version"))
      .orderBy(col("customer_key"))
  }

  /** C1+ (beyond reference parity): SCD2 incremental merge
    * ([[graft.etl.Dimensions.scd2Merge]]) — initial load at 2024-06-01,
    * then a merge at 2024-07-01 where customers of nation 0 change
    * segment: their v1 rows expire and v2 rows appear. */
  val c1bScd2Merge: Q = (s, d) => {
    val customer = Tables.customer(s, d)
    val attrs0 = customer.select(col("c_name"), col("c_mktsegment")).distinct()
    val dim0 = Dimensions.scd2InitialLoad(attrs0, "customer_key", Seq(col("c_name")), FixedClock("2024-06-01 00:00:00"))
    val attrs1 = customer.select(
      col("c_name"),
      when(col("c_nationkey") === 0, "CHANGED").otherwise(col("c_mktsegment")).alias("c_mktsegment"))
      .distinct()
    Dimensions.scd2Merge(dim0, attrs1, Seq("c_name"), "customer_key", Seq("c_name"), FixedClock("2024-07-01 00:00:00"))
      .select(
        col("c_name"),
        col("c_mktsegment"),
        col("version"),
        col("is_current").cast("int").alias("is_current"),
        date_format(col("effective_from_date"), "yyyy-MM-dd").alias("eff_from"),
        date_format(col("effective_to_date"), "yyyy-MM-dd").alias("eff_to"))
      .orderBy(col("c_name"), col("version"))
  }

  /** C2 + S5: generated calendar dimension, distributed
    * ([[graft.etl.Dimensions.calendar]]) — 1,096 rows, 11 attributes. */
  val c2Calendar: Q = (s, d) =>
    Dimensions.buildDimDate(s)
      .select(
        date_format(col("full_date"), "yyyy-MM-dd").alias("full_date"),
        col("date_key"),
        col("year"),
        col("quarter"),
        col("month"),
        col("month_name"),
        col("day"),
        col("day_of_week"),
        col("day_name"),
        col("week_of_year"),
        col("is_weekend").cast("int").alias("is_weekend"),
        col("is_holiday").cast("int").alias("is_holiday"))
      .orderBy(col("full_date"))

  /** Events analog of the forecast/actual pairing used by C3/C4:
    * 'purchase' events are predictions, 'view' events are observations;
    * same user within the tolerance matches (one-to-many, J4 semantics).
    */
  private def pairedEvents(s: SparkSession, d: String, toleranceUs: Long): DataFrame = {
    val e = Tables.events(s, d)
    val f = e.filter(col("event_type") === "purchase")
      .select(
        col("user_id"),
        col("event_id").alias("f_id"),
        col("ts_us").alias("f_us"),
        col("value").alias("f_val"),
        pmod(get_json_object(col("props"), "$.k").cast("int"), lit(3)).cast("string").alias("f_cond"))
    val a = e.filter(col("event_type") === "view")
      .select(
        col("user_id"),
        col("event_id").alias("a_id"),
        col("ts_us").alias("a_us"),
        col("value").alias("a_val"),
        pmod(get_json_object(col("props"), "$.k").cast("int"), lit(3)).cast("string").alias("a_cond"))
    BandJoin.bucketed(f, a, Seq("user_id"), "f_us", "a_us", toleranceUs)
  }

  /** C3: forecast-accuracy derivation ([[graft.sql.FactViews.accuracyColumns]])
    * over the events analog: error, |error|, category ladder, composite
    * accuracy flag — aggregated by category. */
  val c3Accuracy: Q = (s, d) => {
    val clock = FixedClock("2024-06-01 00:00:00")
    val paired = pairedEvents(s, d, MicrosPerHour)
    FactViews.accuracyColumns(paired, col("f_val"), col("a_val"), col("f_cond"), col("a_cond"), clock)
      .groupBy(col("temp_accuracy_category"))
      .agg(
        count(lit(1)).alias("n"),
        sum(col("condition_match").cast("int")).cast("long").alias("n_cond_match"),
        sum(col("is_accurate_forecast").cast("int")).cast("long").alias("n_accurate"),
        round(avg(col("temp_absolute_error")), 2).alias("avg_abs_err"))
      .orderBy(col("temp_accuracy_category"))
  }

  /** C4: horizon derivation + bucketing
    * ([[graft.etl.BronzeToSilver.horizonHours]] formula shape /
    * [[graft.sql.Analytics.horizonBucket]]): forward-looking pairs within
    * 100 h, horizon in rounded hours, bucket totals. */
  val c4Horizon: Q = (s, d) => {
    val paired = pairedEvents(s, d, 100L * MicrosPerHour)
      .filter(col("a_us") > col("f_us"))
    paired
      .withColumn("horizon_hours", round((col("a_us") - col("f_us")) / (3600.0 * 1000000.0), 1))
      .groupBy(Analytics.horizonBucket(col("horizon_hours")).alias("horizon_bucket"))
      .agg(count(lit(1)).alias("n"))
      .orderBy(col("horizon_bucket"))
  }

  /** C5: data-quality gate — not-null, plausibility ranges, key dedup —
    * survivors per group. The synthetic lineitem key is NOT unique, so the
    * dedup uses a deterministic keep-rule (min flag per key) rather than
    * dropDuplicates' arbitrary row choice (D1 covers dropDuplicates). */
  val c5DqGate: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_quantity").isNotNull)
      .filter(col("l_quantity").between(1, 40))
      .filter(col("l_discount").between(0, 0.08))
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(min(col("l_returnflag")).alias("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).alias("n"))
      .orderBy(col("l_returnflag"))

  /** Flagship (SparkEntry.entry): accuracy-by-horizon over the events
    * analog — the Spark collapse of the reference's Query 1
    * (`sample_queries.sql:3-16`) exercising the band join, accuracy
    * derivation, horizon bucketing, aggregation and sort in one plan. */
  def flagship(s: SparkSession, d: String): DataFrame = {
    val clock = FixedClock("2024-06-01 00:00:00")
    val paired = pairedEvents(s, d, 100L * MicrosPerHour).filter(col("a_us") > col("f_us"))
    val acc = FactViews
      .accuracyColumns(paired, col("f_val"), col("a_val"), col("f_cond"), col("a_cond"), clock)
      .withColumn("horizon_hours", round((col("a_us") - col("f_us")) / (3600.0 * 1000000.0), 1))
    acc
      .groupBy(Analytics.horizonBucket(col("horizon_hours")).alias("horizon_bucket"))
      .agg(
        count(lit(1)).alias("total_forecasts"),
        round(avg(col("temp_absolute_error")), 2).alias("avg_error"),
        round(avg(col("is_accurate_forecast").cast("int")) * 100, 1).alias("accuracy_pct"))
      .orderBy(col("horizon_bucket"))
  }

  /** Salted two-stage aggregation ≡ plain groupBy — the manual skew
    * answer, held to exact equality (value column cast to long first so
    * both summation orders are exact). */
  val skSaltedAgg: Q = (s, d) =>
    Skew.saltedAgg(
      Tables.lineitem(s, d).withColumn("qty", col("l_quantity").cast("long")),
      keyCols = Seq("l_returnflag", "l_linestatus"),
      saltCols = Seq("l_orderkey", "l_linenumber"),
      valueCol = "qty")
      .select(
        col("l_returnflag"), col("l_linestatus"),
        col("sum_v"), col("cnt_v"), col("min_v"), col("max_v"),
        round(col("avg_v"), 4).alias("avg_v"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Bucketed co-located join: both sides written bucketed by the join
    * key, then join + per-key aggregate — zero hash exchanges at read
    * time (pinned by PlanShapeSpec). Oracle = the plain join. */
  val bkBucketedJoin: Q = (s, d) => {
    val o = Tables.orders(s, d).filter(pmod(col("o_orderkey"), lit(100)) === 0)
    val l = Tables.lineitem(s, d).filter(pmod(col("l_orderkey"), lit(100)) === 0)
    Bucketing.writeBucketed(o.select("o_orderkey", "o_totalprice"), "bk_orders", "o_orderkey", 8)
    Bucketing.writeBucketed(l.select("l_orderkey", "l_quantity"), "bk_lineitem", "l_orderkey", 8)
    val bo = s.table("bk_orders")
    val bl = s.table("bk_lineitem")
    bo.join(bl, bo("o_orderkey") === bl("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_totalprice"))
      .agg(
        count(lit(1)).alias("n_items"),
        sum(col("l_quantity").cast("long")).alias("sum_qty"))
      .orderBy(col("o_orderkey"))
  }

  private val pairedSql =
    """FROM (SELECT user_id, event_id AS f_id, epoch_us(ts) AS f_us, value AS f_val,
                    CAST(CAST(json_extract_string(props, '$.k') AS INT) % 3 AS VARCHAR) AS f_cond
             FROM events WHERE event_type = 'purchase') f
       JOIN (SELECT user_id AS a_user, event_id AS a_id, epoch_us(ts) AS a_us, value AS a_val,
                    CAST(CAST(json_extract_string(props, '$.k') AS INT) % 3 AS VARCHAR) AS a_cond
             FROM events WHERE event_type = 'view') a
       ON f.user_id = a.a_user"""

  /** C11: declarative data-quality report ([[graft.ops.DataQuality]]) —
    * five row-level constraints in ONE scan (each a sum(CASE) in a
    * shared aggregate), plus a uniqueness shuffle and a referential
    * left-anti join. The reusable form of c5's inline gate. */
  val c11DqReport: Q = (s, d) => {
    import graft.ops.DataQuality._
    report(
      Tables.lineitem(s, d),
      Seq(
        NotNull("l_quantity"),
        InRange("l_discount", 0.0, 0.08),
        InSet("l_returnflag", Seq("A", "N", "R")),
        Satisfies("price_positive", col("l_extendedprice") > 0),
        Unique(Seq("l_orderkey", "l_linenumber")),
        RefIntegrity("l_orderkey", Tables.orders(s, d), "o_orderkey")))
  }

  val oracles: Map[String, String] = Map(
    "c11_dq_report" ->
      """WITH v AS (
           SELECT 'not_null(l_quantity)' AS "constraint",
                  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
           FROM lineitem
           UNION ALL
           SELECT 'in_range(l_discount,0.0,0.08)',
                  CAST(sum(CASE WHEN l_discount IS NOT NULL
                                 AND NOT (l_discount BETWEEN 0 AND 0.08)
                                THEN 1 ELSE 0 END) AS BIGINT)
           FROM lineitem
           UNION ALL
           SELECT 'in_set(l_returnflag)',
                  CAST(sum(CASE WHEN l_returnflag IS NOT NULL
                                 AND l_returnflag NOT IN ('A', 'N', 'R')
                                THEN 1 ELSE 0 END) AS BIGINT)
           FROM lineitem
           UNION ALL
           SELECT 'satisfies(price_positive)',
                  CAST(sum(CASE WHEN NOT coalesce(l_extendedprice > 0, FALSE)
                                THEN 1 ELSE 0 END) AS BIGINT)
           FROM lineitem
           UNION ALL
           SELECT 'unique(l_orderkey,l_linenumber)',
                  CAST(coalesce((SELECT sum(n) FROM (
                    SELECT count(*) AS n FROM lineitem
                    GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)), 0) AS BIGINT)
           UNION ALL
           SELECT 'ref_integrity(l_orderkey)',
                  (SELECT CAST(count(*) AS BIGINT)
                   FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
                   WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL))
         SELECT "constraint", violations, violations = 0 AS passed
         FROM v ORDER BY "constraint"""",
    "sk_salted_agg" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_v,
                CAST(count(*) AS BIGINT) AS cnt_v,
                CAST(min(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_v,
                CAST(max(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_v,
                round(CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*), 4) AS avg_v
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "bk_bucketed_join" ->
      """SELECT o_orderkey, o_totalprice,
                CAST(count(*) AS BIGINT) AS n_items,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey % 100 = 0
         GROUP BY o_orderkey, o_totalprice
         ORDER BY o_orderkey""",
    "j4_band_join" ->
      """SELECT a.user_id, CAST(count(*) AS BIGINT) AS pair_count
         FROM events a JOIN events b
           ON a.user_id = b.user_id AND a.event_id < b.event_id
          AND abs(epoch_us(a.ts) - epoch_us(b.ts)) < 3600000000
         GROUP BY a.user_id ORDER BY a.user_id""",
    "sk_salted_band_join" ->
      """SELECT a.user_id, CAST(count(*) AS BIGINT) AS pair_count
         FROM events a JOIN events b
           ON a.user_id = b.user_id AND a.event_id < b.event_id
          AND abs(epoch_us(a.ts) - epoch_us(b.ts)) < 3600000000
         GROUP BY a.user_id ORDER BY a.user_id""",
    "c1_scd2" ->
      """SELECT CAST(row_number() OVER (ORDER BY c_name) AS INT) AS customer_key,
                c_name, c_nationkey, c_mktsegment,
                '2024-06-01' AS eff_from, '9999-12-31' AS eff_to,
                1 AS is_current, 1 AS version
         FROM (SELECT DISTINCT c_name, c_nationkey, c_mktsegment FROM customer)
         ORDER BY customer_key""",
    "st1_windowed_counts" ->
      """SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                event_type, CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS value_sum
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "st2_stream_static" ->
      """SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                event_type,
                CASE event_type WHEN 'click' THEN 'engagement' WHEN 'view' THEN 'engagement'
                                WHEN 'purchase' THEN 'revenue' WHEN 'signup' THEN 'growth'
                                ELSE NULL END AS category,
                CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS value_sum
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "st4_stream_dedup" ->
      """SELECT event_id, user_id, event_type, round(value, 4) AS value
         FROM events WHERE user_id < 50 ORDER BY event_id""",
    "st10_drift" ->
      """WITH q AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS q_count FROM events GROUP BY 1),
         c AS (SELECT CAST(sum(q_count) AS BIGINT) AS C FROM q),
         w AS (
           SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                  event_type, CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         j AS (
           -- NB: DuckDB identifiers are case-insensitive — the window
           -- total must NOT be named "N" next to a column "n"
           SELECT w.window_start, w.n, c.C AS ct,
                  CAST(sum(w.n) OVER (PARTITION BY w.window_start) AS BIGINT) AS nt,
                  coalesce(q.q_count, 0) AS qc
           FROM w LEFT JOIN q USING (event_type) CROSS JOIN c),
         t AS (
           SELECT window_start, n, nt, ct,
                  (n / CAST(nt AS DOUBLE)) AS p,
                  CASE WHEN qc = 0 THEN 1e-9 ELSE qc / CAST(ct AS DOUBLE) END AS qq,
                  abs(n * ct - qc * nt) AS tvnum
           FROM j)
         SELECT window_start, CAST(count(*) AS BIGINT) AS n_types,
                CAST(sum(n) AS BIGINT) AS n_events,
                CAST(floor(sum(CAST(p * ln(p / qq) AS DECIMAL(38,18))) * 10000) / 10000 AS DOUBLE)
                  AS kl_vs_baseline,
                CAST(floor(CAST(sum(tvnum) AS DOUBLE) / (2.0 * max(nt) * max(ct)) * 10000) / 10000
                  AS DOUBLE) AS tv_seen
         FROM t GROUP BY 1 ORDER BY 1""",
    "st12_tws_running" ->
      """SELECT user_id, event_id,
                CAST(row_number() OVER w AS BIGINT) AS n_so_far,
                CAST(sum(CAST(round(value * 100) AS BIGINT))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cents_so_far
         FROM events WHERE user_id < 50
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY user_id, n_so_far""",
    "st8_stream_topk" ->
      """WITH r AS (
           SELECT event_type, event_id, value,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY value DESC, event_id) AS rk
           FROM events)
         SELECT event_type, CAST(rk AS INT) AS rank, event_id,
                round(value, 4) AS value
         FROM r WHERE rk <= 10
         ORDER BY event_type, rank""",
    "st7_bloom_prefilter" ->
      """SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                event_type, CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS value_sum
         FROM events
         WHERE user_id IN (SELECT user_id FROM events WHERE event_type = 'purchase'
                           GROUP BY user_id HAVING count(*) >= 3)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "st5_session_window" ->
      """WITH lagged AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                       THEN 1 ELSE 0 END AS brk
           FROM events WHERE user_id < 50
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         sess AS (
           SELECT user_id, ts, value,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM lagged)
         SELECT user_id,
                strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
                CAST(count(*) AS INT) AS n_events,
                round(sum(value), 4) AS value_sum
         FROM sess GROUP BY user_id, sid
         ORDER BY user_id, session_start""",
    "st13_feed_ratelimit" ->
      """SELECT 'insert' AS _change_type,
                CAST(year(o_orderdate) AS INT) AS yr,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders WHERE year(o_orderdate) >= 1995
         GROUP BY 2
         UNION ALL
         SELECT 'snapshot',
                CAST(year(o_orderdate) AS INT),
                CAST(count(*) AS BIGINT),
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         FROM orders WHERE year(o_orderdate) < 1995
         GROUP BY 2
         ORDER BY _change_type, yr""",
    "st11_asof_enrich" ->
      """WITH v AS (SELECT user_id, event_id, epoch_us(ts) AS vt
                    FROM events WHERE event_type = 'view'),
         p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pt
               FROM events WHERE event_type = 'purchase'),
         j AS (SELECT p.user_id, p.purchase_id, p.pt, v.event_id AS view_id, v.vt
               FROM p LEFT JOIN v
                 ON p.user_id = v.user_id
                AND v.vt BETWEEN p.pt - 3600000000 AND p.pt),
         r AS (SELECT *, row_number() OVER (PARTITION BY purchase_id
                 ORDER BY vt DESC NULLS LAST, view_id DESC NULLS LAST) AS rk
               FROM j)
         SELECT user_id, purchase_id,
                coalesce(view_id, -1) AS view_id,
                coalesce(pt // 1000000 - vt // 1000000, -1) AS view_lag_sec
         FROM r WHERE rk = 1
         ORDER BY purchase_id""",
    "st3_interval_join" ->
      """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
         FROM (SELECT * FROM events WHERE event_type = 'view') v
         JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON v.user_id = p.user_id
          AND epoch_us(p.ts) BETWEEN epoch_us(v.ts) AND epoch_us(v.ts) + 3600000000
         ORDER BY view_id, purchase_id""",
    "st6_outer_interval_join" ->
      """SELECT v.user_id, v.event_id AS view_id,
                coalesce(p.event_id, -1) AS purchase_id
         FROM (SELECT * FROM events WHERE event_type = 'view') v
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON v.user_id = p.user_id
          AND epoch_us(p.ts) BETWEEN epoch_us(v.ts) AND epoch_us(v.ts) + 3600000000
         ORDER BY view_id, purchase_id""",
    "j4c_asof_native" ->
      """WITH p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pt
                    FROM events WHERE event_type = 'purchase'),
              v AS (SELECT user_id, epoch_us(ts) AS vt, max(event_id) AS view_id
                    FROM events WHERE event_type = 'view' GROUP BY 1, 2),
              j AS (SELECT p.user_id, p.purchase_id, p.pt, v.vt, v.view_id,
                           row_number() OVER (PARTITION BY p.purchase_id
                                              ORDER BY v.vt DESC) AS rk
                    FROM p LEFT JOIN v
                      ON p.user_id = v.user_id AND v.vt <= p.pt
                     AND p.pt - v.vt <= 3600000000)
         SELECT user_id, purchase_id, coalesce(view_id, -1) AS view_id,
                coalesce(pt - vt, -1) AS delta_us
         FROM j WHERE rk = 1 ORDER BY purchase_id""",
    "j4e_range_native" ->
      """SELECT p.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
                epoch_us(v.ts) - epoch_us(p.ts) AS delta_us
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         JOIN (SELECT * FROM events WHERE event_type = 'view') v
           ON p.user_id = v.user_id
          AND abs(epoch_us(p.ts) - epoch_us(v.ts)) <= 3600000000
         ORDER BY view_id, purchase_id""",
    "j4d_asof_forward" ->
      """WITH v AS (SELECT user_id, event_id AS view_id, epoch_us(ts) AS vt
                    FROM events WHERE event_type = 'view'),
              p AS (SELECT user_id, epoch_us(ts) AS pt, min(event_id) AS purchase_id
                    FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
              j AS (SELECT v.user_id, v.view_id, v.vt, p.pt, p.purchase_id,
                           row_number() OVER (PARTITION BY v.view_id
                                              ORDER BY p.pt ASC) AS rk
                    FROM v LEFT JOIN p
                      ON v.user_id = p.user_id AND p.pt >= v.vt
                     AND p.pt - v.vt <= 3600000000)
         SELECT user_id, view_id, coalesce(purchase_id, -1) AS purchase_id,
                coalesce(pt - vt, -1) AS delta_us
         FROM j WHERE rk = 1 ORDER BY view_id""",
    "j4b_asof_join" ->
      """SELECT user_id, purchase_id, view_id, delta_us FROM (
           SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
                  epoch_us(v.ts) - epoch_us(p.ts) AS delta_us,
                  row_number() OVER (PARTITION BY p.event_id
                    ORDER BY abs(epoch_us(v.ts) - epoch_us(p.ts)), epoch_us(v.ts)) AS rk
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           JOIN (SELECT * FROM events WHERE event_type = 'view') v
             ON p.user_id = v.user_id
            AND abs(epoch_us(p.ts) - epoch_us(v.ts)) < 3600000000)
         WHERE rk = 1 ORDER BY purchase_id""",
    "c6_sessionize" ->
      """WITH lagged AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                       THEN 1 ELSE 0 END AS brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         sess AS (
           SELECT user_id, ts, value,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
           FROM lagged)
         SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                CAST(count(*) AS INT) AS n_events, round(sum(value), 2) AS value_sum
         FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start""",
    "c1b_scd2_merge" ->
      """WITH base AS (SELECT DISTINCT c_name, c_mktsegment, c_nationkey FROM customer)
         SELECT * FROM (
           SELECT c_name, c_mktsegment, 1 AS version,
                  CASE WHEN c_nationkey = 0 THEN 0 ELSE 1 END AS is_current,
                  '2024-06-01' AS eff_from,
                  CASE WHEN c_nationkey = 0 THEN '2024-07-01' ELSE '9999-12-31' END AS eff_to
           FROM base
           UNION ALL
           SELECT c_name, 'CHANGED', 2, 1, '2024-07-01', '9999-12-31'
           FROM base WHERE c_nationkey = 0)
         ORDER BY c_name, version""",
    "c2_calendar" ->
      """SELECT strftime(dd, '%Y-%m-%d') AS full_date,
                CAST(strftime(dd, '%Y%m%d') AS INT) AS date_key,
                CAST(year(dd) AS INT) AS year, CAST(quarter(dd) AS INT) AS quarter,
                CAST(month(dd) AS INT) AS month, monthname(dd) AS month_name,
                CAST(day(dd) AS INT) AS day, CAST(dayofweek(dd) + 1 AS INT) AS day_of_week,
                dayname(dd) AS day_name, CAST(weekofyear(dd) AS INT) AS week_of_year,
                CAST(dayofweek(dd) IN (0, 6) AS INT) AS is_weekend, 0 AS is_holiday
         FROM (SELECT CAST(gs AS DATE) AS dd
               FROM generate_series(DATE '2024-01-01', DATE '2026-12-31', INTERVAL 1 DAY) t(gs))
         ORDER BY full_date""",
    "c3_accuracy" ->
      s"""SELECT CASE WHEN abs(f_val - a_val) <= 1 THEN 'Excellent'
                      WHEN abs(f_val - a_val) <= 3 THEN 'Good'
                      WHEN abs(f_val - a_val) <= 5 THEN 'Fair'
                      ELSE 'Poor' END AS temp_accuracy_category,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(f_cond = a_cond AS INT)) AS BIGINT) AS n_cond_match,
                 CAST(sum(CAST(abs(f_val - a_val) <= 3 AND f_cond = a_cond AS INT)) AS BIGINT) AS n_accurate,
                 round(avg(abs(f_val - a_val)), 2) AS avg_abs_err
          $pairedSql AND abs(f_us - a_us) < 3600000000
          GROUP BY 1 ORDER BY 1""",
    "c4_horizon" ->
      s"""SELECT CASE WHEN h <= 24 THEN '0-24 hours'
                      WHEN h <= 48 THEN '24-48 hours'
                      WHEN h <= 72 THEN '48-72 hours'
                      ELSE '72+ hours' END AS horizon_bucket,
                 CAST(count(*) AS BIGINT) AS n
          FROM (SELECT round((a_us - f_us) / 3600000000.0, 1) AS h
                $pairedSql AND abs(f_us - a_us) < 360000000000 AND a_us > f_us)
          GROUP BY 1 ORDER BY 1""",
    "c5_dq_gate" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
         FROM (SELECT l_orderkey, l_linenumber, min(l_returnflag) AS l_returnflag FROM lineitem
               WHERE l_quantity IS NOT NULL AND l_quantity BETWEEN 1 AND 40
                 AND l_discount BETWEEN 0 AND 0.08
               GROUP BY l_orderkey, l_linenumber)
         GROUP BY l_returnflag ORDER BY l_returnflag"""
  )

  val queries: Map[String, Q] = Map(
    "j4_band_join" -> j4BandJoin,
    "j4b_asof_join" -> j4bAsOfJoin,
    "j4c_asof_native" -> j4cAsofNative,
    "j4d_asof_forward" -> j4dAsofForward,
    "j4e_range_native" -> j4eRangeNative,
    "c6_sessionize" -> c6Sessionize,
    "st1_windowed_counts" -> st1WindowedCounts,
    "st2_stream_static" -> st2StreamStatic,
    "st3_interval_join" -> st3IntervalJoin,
    "st11_asof_enrich" -> st11AsofEnrich,
    "st6_outer_interval_join" -> st6OuterIntervalJoin,
    "st4_stream_dedup" -> st4StreamDedup,
    "st5_session_window" -> st5SessionWindow,
    "st7_bloom_prefilter" -> st7BloomPrefilter,
    "st8_stream_topk" -> st8StreamTopk,
    "st10_drift" -> st10Drift,
    "st12_tws_running" -> st12TwsRunning,
    "st13_feed_ratelimit" -> st13FeedRatelimit,
    "c1_scd2" -> c1Scd2,
    "c1b_scd2_merge" -> c1bScd2Merge,
    "c2_calendar" -> c2Calendar,
    "c3_accuracy" -> c3Accuracy,
    "c4_horizon" -> c4Horizon,
    "c5_dq_gate" -> c5DqGate,
    "c11_dq_report" -> c11DqReport,
    "sk_salted_agg" -> skSaltedAgg,
    "sk_salted_band_join" -> skSaltedBandJoin,
    "bk_bucketed_join" -> bkBucketedJoin
  )
}
