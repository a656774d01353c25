package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** Event-stream operators: watermarked windowed aggregation and custom
  * sessionization state — the Structured Streaming surface of the engine.
  *
  * Scale notes: both operators shuffle once on their grouping key; state
  * is bounded by the watermark (windowed agg) or the explicit timeout
  * (sessions), so state-store size is O(active keys), not O(history).
  */
object EventStreams {

  /** Tumbling-window event counts with late-data handling: watermarked
    * event time, per-(window, event_type) counts. Works identically on a
    * batch DataFrame (window/groupBy are the same operators). */
  def windowedCounts(
      events: DataFrame,
      windowLength: String = "10 minutes",
      watermarkDelay: String = "30 minutes"): DataFrame =
    events
      .withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), windowLength), col("event_type"))
      .agg(count(lit(1)).alias("n"), round(sum(col("value")), 2).alias("value_sum"))
      .select(
        col("window.start").alias("window_start"),
        col("window.end").alias("window_end"),
        col("event_type"),
        col("n"),
        col("value_sum"))

  /** Stream-static enrichment: windowed counts joined to a small static
    * dimension on event_type. The static side is broadcast — a
    * stream-static join carries NO state (each finalized window row
    * probes the broadcast table once), so it scales with the stream
    * rate, not history. Works identically on batch input (same
    * operators), which is how the `st2_stream_static` entry oracles it;
    * the streaming path is exercised in `StreamingSpec`. Left join:
    * unmapped event types pass through with a null category rather than
    * silently dropping counts. */
  def enrichedWindowedCounts(
      events: DataFrame,
      typeDim: DataFrame,
      windowLength: String = "10 minutes",
      watermarkDelay: String = "30 minutes"): DataFrame =
    windowedCounts(events, windowLength, watermarkDelay)
      .join(broadcast(typeDim), Seq("event_type"), "left")

  /** Bloom-prefiltered windowed counts: the ingest-side reducer for a
    * stream whose interesting keys are a known (possibly large) set. At
    * 100 TB/day the wrong place to discard irrelevant events is inside
    * the stateful aggregation — they would first inflate the shuffle
    * and the state store. The Bloom of the key set is applied AT THE
    * SOURCE scan (stateless, codegen'd, no extra state), the exact
    * stream-static left-semi join (broadcast, stateless) removes the
    * false positives, and only then does the watermarked aggregation
    * run — its state is O(interesting keys' windows), not O(stream).
    * Works identically on batch input (the oracle path); the streaming
    * execution is exercised in `StreamingSpec`. */
  def bloomFilteredWindowedCounts(
      events: DataFrame,
      keyDim: DataFrame,
      keyCol: String,
      eventKeyCol: String = "user_id",
      windowLength: String = "10 minutes",
      watermarkDelay: String = "30 minutes",
      expectedItems: Long = 1L << 16,
      numBits: Long = 1L << 20,
      maxFpp: Double = 0.33): DataFrame = {
    val bloom = graft.ops.RuntimeFilter.buildBloom(keyDim, keyCol, expectedItems, numBits)
    // empty key dim → the semi join is empty; short-circuit instead of
    // probing with a null literal (same guard as bloomSemiJoin)
    if (bloom == null) return windowedCounts(events.limit(0), windowLength, watermarkDelay)
    // overloaded filter (keys >> expectedItems) probes at FPP ≈ 1 —
    // pure per-row overhead with no pruning; drop the probe and let the
    // exact semi join do all the work (bloomSemiJoin's adaptive guard)
    val fpp = org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(bloom)).expectedFpp()
    // broadcast, never a plan literal: at the default 1<<20 bits the
    // serialized filter is 128 KB, and in streaming a literal would be
    // re-serialized into every task of EVERY micro-batch
    val probed =
      if (fpp <= maxFpp)
        events.where(graft.ops.RuntimeFilter.mightContainBroadcast(
          events.sparkSession, bloom, col(eventKeyCol)))
      else events
    // resolved dim-side attribute: a bare col(keyCol) is ambiguous when
    // keyCol == eventKeyCol (joining on the same column name)
    val keys = keyDim.select(col(keyCol)).distinct()
    val pruned = probed.join(broadcast(keys), probed(eventKeyCol) === keys(keyCol), "left_semi")
    windowedCounts(pruned, windowLength, watermarkDelay)
  }

  /** Per-window distribution drift vs a static baseline — the
    * monitoring analytic a streaming ingest runs to catch a source
    * going bad (a scraper shift, an upstream schema break) as a
    * composition-of-events change rather than a volume change. For each
    * event-time window: the KL divergence of the window's event-type
    * distribution p against the baseline q, plus the seen-type
    * total-variation term (½ Σ|p−q| over types present in the window —
    * baseline types with zero window mass are a volume alarm, not a
    * drift alarm, and are left to the count monitors).
    *
    * Input is the OUTPUT of [[windowedCounts]] (already aggregated);
    * the per-window normalization is a window function over the few
    * rows per event-time window. Batch: runs directly (how the
    * `st10_drift` oracle verifies it). Streaming: apply inside
    * `foreachBatch` on the finalized windows (chaining a second
    * stateful aggregate after a streaming window agg is the one shape
    * Structured Streaming restricts; the batch-per-batch form is the
    * standard monitoring pattern and is exercised in `StreamingSpec`).
    * Baseline types absent from a window contribute 0 to KL (p=0 term)
    * and q/2 to TV; window types missing from the baseline would make
    * KL infinite — the left join keeps them visible with a null drift
    * contribution guarded by a coalesce on a tiny q floor. */
  def distributionDrift(windowed: DataFrame, baselineCounts: DataFrame): DataFrame = {
    // Cross-engine exactness discipline (three verify failures taught
    // this): TV values land EXACTLY on half-grid rationals (p, q are
    // small-denominator fractions), where any float rounding of
    // ±1 ulp summation noise is engine-dependent. So TV is computed
    // INTEGER-exact — Σ|n·C − qc·N| over longs, ONE double division at
    // the end (identical in every engine) — and KL (whose logs keep it
    // off the grid) sums the per-term decimal images (exact,
    // order-independent addition) before truncating. floor, not round:
    // identical doubles floor identically; round's half-way ties don't.
    val bl = baselineCounts
      .withColumn("__C", sum(col("q_count")).over(Window.partitionBy()))
    val perWin = Window.partitionBy(col("window_start"))
    val joined = windowed
      .join(broadcast(bl), Seq("event_type"), "left")
      .withColumn("__N", sum(col("n")).over(perWin))
      .withColumn("__qc", coalesce(col("q_count"), lit(0L)))
    val p = col("n") / col("__N")
    val q = when(col("__qc") === 0L, lit(1e-9)).otherwise(col("__qc") / col("__C"))
    joined
      .select(col("window_start"), col("n"), col("__N"), col("__C"),
        (p * log(p / q)).alias("__kl"),
        // decimal(38,0) products: Long multiply would overflow silently
        // past n·C ≈ 2^63 (plausible at 100 TB counts) while the DuckDB
        // oracle promotes BIGINT products to HUGEINT — decimal multiply
        // is exact and overflow-checked, so the engines stay aligned
        abs(col("n").cast("decimal(38,0)") * col("__C").cast("decimal(38,0)")
          - col("__qc").cast("decimal(38,0)") * col("__N").cast("decimal(38,0)"))
          .alias("__tvnum"))
      .groupBy(col("window_start"))
      .agg(
        count(lit(1)).alias("n_types"),
        sum(col("n")).alias("n_events"),
        (floor(sum(col("__kl").cast("decimal(38,18)")) * 10000) / 10000)
          .cast("double").alias("kl_vs_baseline"),
        (floor(sum(col("__tvnum")).cast("double")
          / (lit(2.0) * max(col("__N")) * max(col("__C"))) * 10000) / 10000)
          .cast("double").alias("tv_seen"))
  }

  /** Grouped top-k leaderboard, batch AND streaming — the "top k per
    * key, continuously" op. Same dual-path contract as [[sessionize]]:
    *
    *  - STREAMING: `flatMapGroupsWithState` holding a BOUNDED heap per
    *    group (state is O(groups · k) — a leaderboard over an unbounded
    *    feed never stores the feed). Each micro-batch folds its rows
    *    into the heap one at a time (a row only pays the O(k) insert
    *    when it beats the current k-th — the batch is never
    *    materialized) and re-emits the group's current top-k
    *    (OutputMode.Update).
    *  - BATCH: the NATIVE grouped top-k operator
    *    ([[graft.ops.TopK.nativePerGroup]] — partial heaps, one
    *    exchange, no sort), with ranks assigned by a window over the
    *    ≤ k·groups surviving rows.
    *
    * Input needs (event_type, event_id, value) columns; ties break by
    * id, so results are deterministic and the streaming path is
    * batch-parity (spec-pinned). */
  def groupedTopK(events: DataFrame, k: Int): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val cols = events.select(
      col("event_type"), col("event_id").cast("long").alias("event_id"),
      col("value").cast("double").alias("value"))
    if (events.isStreaming) {
      def beats(v: Double, id: Long, v2: Double, id2: Long): Boolean =
        v > v2 || (v == v2 && id < id2)
      cols.as[(String, Long, Double)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[TopKBuf, RankedEvent](
          OutputMode.Update(), GroupStateTimeout.NoTimeout()) { (key, it, state) =>
          var buf = state.getOption.map(b => b.vs.zip(b.ids).toList).getOrElse(Nil)
          it.foreach { case (_, id, v) =>
            if (buf.size < k || beats(v, id, buf.last._1, buf.last._2))
              buf = ((v, id) :: buf).sortBy(t => (-t._1, t._2)).take(k)
          }
          state.update(TopKBuf(buf.map(_._2), buf.map(_._1)))
          buf.iterator.zipWithIndex.map { case ((v, id), i) => RankedEvent(key, i + 1, id, v) }
        }
        .toDF()
    } else {
      graft.ops.TopK.nativePerGroup(
        cols, Seq("event_type"), Seq(("value", true), ("event_id", false)), k)
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(col("value").desc, col("event_id"))))
        .select(col("event_type"), col("rank"), col("event_id"), col("value"))
    }
  }

  /** Stream-stream interval join: each purchase matched to the same
    * user's views in the preceding `horizon` — the attribution join.
    * Both sides are watermarked and the join condition bounds event time
    * in BOTH directions, so each side's state is evicted once the other
    * side's watermark passes the horizon: state is O(events inside the
    * horizon window), not O(history) — the only stream-stream join shape
    * that survives an unbounded feed. On batch input the watermark nodes
    * are eliminated by the analyzer and the same plan runs as a plain
    * range join (how the `st3_interval_join` oracle verifies it). */
  def viewPurchaseAttribution(
      views: DataFrame,
      purchases: DataFrame,
      horizon: String = "1 hour",
      watermarkDelay: String = "2 hours",
      joinType: String = "inner"): DataFrame = {
    val v = views.withWatermark("event_time", watermarkDelay).alias("v")
    val p = purchases.withWatermark("event_time", watermarkDelay).alias("p")
    v.join(
        p,
        expr(s"""v.user_id = p.user_id AND
                 p.event_time BETWEEN v.event_time AND v.event_time + INTERVAL $horizon"""),
        // "left_outer": a view with NO in-horizon purchase is emitted
        // null-extended — but only once the purchase-side watermark
        // passes its horizon, when "no match" becomes a FACT rather
        // than "not yet" (the streaming-correct unmatched semantics)
        joinType)
      .select(
        col("v.user_id").alias("user_id"),
        col("v.event_id").alias("view_id"),
        col("p.event_id").alias("purchase_id"),
        col("v.event_time").alias("view_time"),
        col("p.event_time").alias("purchase_time"))
  }

  /** Streaming AS-OF (temporal) join: each purchase enriched with the
    * same user's LATEST view at-or-before it, within `horizon` — the
    * streaming twin of the native batch as-of join
    * ([[graft.ops.AsOfNative]] / `j4c_asof_native`), a shape Spark has
    * no built-in operator for (Flink calls it a temporal join).
    *
    * Composed from two watermark-bounded stateful operators instead of
    * hand-rolled state: (1) the stream-stream LEFT OUTER interval join
    * buffers only in-horizon candidates per side (state O(window), as
    * in [[viewPurchaseAttribution]]); (2) a latest-wins aggregate
    * keyed by the purchase (grouping on the watermarked event-time
    * column, so append-mode state evicts as the watermark passes) picks
    * max(struct(view_time, view_id)) — the null-extended no-match rows
    * lose to any real match because struct ordering ranks null fields
    * lowest, and ties on view_time break deterministically by id. The
    * result emits once the purchase's event time falls behind the
    * watermark, when "latest view" is a fact rather than "latest so
    * far".
    *
    * On batch input the analyzer eliminates the watermark nodes and the
    * same plan is a range join + aggregate — how the oracle verifies
    * it. */
  def asOfEnrichStream(
      views: DataFrame,
      purchases: DataFrame,
      horizon: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame = {
    val v = views.withWatermark("event_time", watermarkDelay).alias("v")
    val p = purchases.withWatermark("event_time", watermarkDelay).alias("p")
    p.join(
        v,
        expr(s"""p.user_id = v.user_id AND
                 v.event_time BETWEEN p.event_time - INTERVAL $horizon AND p.event_time"""),
        "left_outer")
      .groupBy(
        col("p.event_time").alias("purchase_time"),
        col("p.user_id").alias("user_id"),
        col("p.event_id").alias("purchase_id"))
      .agg(max(struct(col("v.event_time"), col("v.event_id"))).alias("__latest"))
      .select(
        col("user_id"),
        col("purchase_id"),
        col("purchase_time"),
        col("__latest.event_id").alias("view_id"),
        ((col("purchase_time").cast("long") - col("__latest.event_time").cast("long")))
          .alias("view_lag_sec"))
  }

  /** Streaming exact dedup: drop rows whose `keyCols` digest was already
    * seen within the watermark horizon — the streaming counterpart of the
    * batch digest groupBy ([[graft.ops.Dedup.exactDedupIds]]). State is
    * one entry per distinct key inside the watermark window, evicted by
    * the engine when the watermark passes (`dropDuplicatesWithinWatermark`)
    * — bounded state on an unbounded stream, the only shape that
    * survives an always-on 100 TB/day feed. Works on batch frames too
    * (plain dropDuplicates semantics, no watermark needed). */
  def dedupStream(
      events: DataFrame,
      timeCol: String,
      keyCols: Seq[String],
      watermarkDelay: String = "30 minutes"): DataFrame =
    if (events.isStreaming)
      events.withWatermark(timeCol, watermarkDelay).dropDuplicatesWithinWatermark(keyCols)
    else
      events.dropDuplicates(keyCols)

  final case class Event(user_id: Long, event_time: java.sql.Timestamp, event_type: String, value: Double)

  final case class ScoredEvent(event_id: Long, event_time: java.sql.Timestamp, event_type: String, value: Double)

  /** Bounded leaderboard state: parallel arrays sorted by (value desc,
    * id asc), length ≤ k — product-encodable without ExpressionEncoder
    * plumbing (the [[graft.ops.TopK.Buf]] convention). */
  final case class TopKBuf(ids: Seq[Long], vs: Seq[Double])

  final case class RankedEvent(event_type: String, rank: Int, event_id: Long, value: Double)

  final case class SessionState(start: Long, last: Long, n: Int, valueSum: Double)

  final case class UserSession(
      user_id: Long,
      session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp,
      n_events: Int,
      value_sum: Double)

  private def emit(userId: Long, s: SessionState): UserSession =
    UserSession(userId, new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.last), s.n, s.valueSum)

  /** Fold a batch of events (sorted by time) into the current session
    * state, emitting every session the gap rule closes along the way.
    * Returns (open trailing session, closed sessions). */
  private def foldSessions(
      userId: Long,
      sorted: Seq[Event],
      initial: Option[SessionState],
      gapMs: Long): (Option[SessionState], Seq[UserSession]) = {
    var cur = initial
    val closed = Seq.newBuilder[UserSession]
    sorted.foreach { e =>
      val t = e.event_time.getTime
      cur match {
        case Some(s) if t - s.last <= gapMs =>
          cur = Some(s.copy(last = t, n = s.n + 1, valueSum = s.valueSum + e.value))
        case Some(s) =>
          closed += emit(userId, s)
          cur = Some(SessionState(t, t, 1, e.value))
        case None =>
          cur = Some(SessionState(t, t, 1, e.value))
      }
    }
    (cur, closed.result())
  }

  /** Gap-based sessionization via flatMapGroupsWithState: a session closes
    * when `gapMinutes` pass without activity.
    *
    * Streaming input (`events.isStreaming`): the open session is KEPT in
    * state across micro-batches and emitted only when the event-time
    * watermark passes `last event + gap` (EventTimeTimeout) — a session
    * spanning N micro-batches is emitted exactly once. `watermarkDelay`
    * bounds late data; state size is O(active users), timeout-bounded.
    *
    * Batch input: the SAME semantics run as a relational gaps-and-islands
    * plan (lag → new-session flag → running sum → groupBy), not the typed
    * fold — a typed group materializes one (user × batch) group per task
    * heap (`it.toSeq.sortBy`), which a single hot user with 10⁸ events
    * OOMs, while the window plan sorts within spill-able partitions. The
    * trailing session closes at end of input (no more data is coming);
    * the `c6_sessionize` oracle verifies the semantics, `StreamingSpec`
    * pins batch ≡ streaming parity, and `PlanShapeSpec` pins that no
    * FlatMapGroupsWithState/object-serde node appears in the batch plan. */
  def sessionize(
      events: Dataset[Event],
      gapMinutes: Int,
      watermarkDelay: String = "0 seconds"): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L

    if (events.isStreaming) {
      events
        .withWatermark("event_time", watermarkDelay)
        .groupByKey(_.user_id)
        .flatMapGroupsWithState[SessionState, UserSession](
          OutputMode.Append(),
          GroupStateTimeout.EventTimeTimeout()) { (userId, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed last+gap with no new events: the session is
            // definitively closed (later arrivals would be beyond-watermark
            // late data by construction)
            val s = state.get
            state.remove()
            Iterator.single(emit(userId, s))
          } else {
            val (open, closed) = foldSessions(
              userId, it.toSeq.sortBy(_.event_time.getTime), state.getOption, gapMs)
            open match {
              case Some(s) =>
                state.update(s)
                // timeout must be strictly beyond the current watermark;
                // a session already older than the watermark closes at the
                // next trigger
                state.setTimeoutTimestamp(math.max(s.last + gapMs, state.getCurrentWatermarkMs() + 1))
              case None => state.remove()
            }
            closed.iterator
          }
        }
    } else {
      val byTime = Window.partitionBy(col("user_id")).orderBy(col("event_time"))
      events.toDF()
        .withColumn("__prev", lag(col("event_time"), 1).over(byTime))
        .withColumn("__new",
          (col("__prev").isNull ||
            unix_millis(col("event_time")) - unix_millis(col("__prev")) > gapMs).cast("int"))
        .withColumn("__sid",
          sum(col("__new")).over(byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("__sid"))
        .agg(
          min(col("event_time")).alias("session_start"),
          max(col("event_time")).alias("session_end"),
          count(lit(1)).cast("int").alias("n_events"),
          sum(col("value")).alias("value_sum"))
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("value_sum"))
        .as[UserSession]
    }
  }

  /** transformWithState input/output/state rows (ST12). Cents are exact
    * longs (HALF_UP at the value's 2-decimal width) so the running sum is
    * associative and cross-engine exact. */
  final case class TwsEvent(user_id: Long, event_id: Long, ts_us: Long, value: Double)
  final case class RunningAgg(n: Long, cents: Long)
  final case class RunningOut(user_id: Long, event_id: Long, n_so_far: Long, cents_so_far: Long)

  /** Arbitrary-state processor (Spark 4 `transformWithState` API): one
    * ValueState row per user holding (n, cents). Per micro-batch the
    * group's rows fold in (ts_us, event_id) order, so a feed that
    * arrives in event-time order (the spec's contract) emits exactly
    * the batch window plan's running totals. State is O(users) — two
    * longs per key in the RocksDB store, never the event history. */
  private final class RunningStatsProcessor
      extends StatefulProcessor[Long, TwsEvent, RunningOut] {
    @transient private var agg: ValueState[RunningAgg] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      agg = getHandle.getValueState[RunningAgg](
        "agg", org.apache.spark.sql.Encoders.product[RunningAgg], TTLConfig.NONE)
    override def handleInputRows(
        key: Long, rows: Iterator[TwsEvent], timers: TimerValues): Iterator[RunningOut] = {
      var st = if (agg.exists()) agg.get() else RunningAgg(0L, 0L)
      val out = rows.toIndexedSeq.sortBy(e => (e.ts_us, e.event_id)).map { e =>
        val cents = BigDecimal(e.value * 100)
          .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
        st = RunningAgg(st.n + 1, st.cents + cents)
        RunningOut(key, e.event_id, st.n, st.cents)
      }
      agg.update(st)
      out.iterator
    }
  }
  private type ValueState[S] = org.apache.spark.sql.streaming.ValueState[S]

  /** Per-user running (count, cents-sum) emitted per event — the
    * cumulative-profile op. Dual-path contract like [[sessionize]]:
    *
    *  - STREAMING: `transformWithState` (the Spark 4 arbitrary-state
    *    API) with a [[RunningStatsProcessor]] ValueState per user —
    *    requires the RocksDB state store provider (spec sets it).
    *  - BATCH: a window plan — row_number + running sum over
    *    (ts_us, event_id) — one shuffle on user_id, no state code.
    *
    * StreamingSpec proves the streaming path emits exactly the batch
    * rows across multiple event-time-ordered micro-batches; the
    * `st12_tws_running` oracle checks the shared semantics. */
  def runningUserStats(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    if (events.isStreaming) {
      events
        .select(col("user_id").cast("long"), col("event_id").cast("long"),
          col("ts_us").cast("long"), col("value").cast("double"))
        .as[TwsEvent]
        .groupByKey(_.user_id)
        .transformWithState(new RunningStatsProcessor, TimeMode.None(), OutputMode.Append())
        .toDF()
    } else {
      val byTime = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      events
        .select(col("user_id").cast("long"), col("event_id").cast("long"),
          col("ts_us").cast("long"),
          round(col("value") * 100).cast("long").alias("__cents"))
        .withColumn("n_so_far", row_number().over(byTime).cast("long"))
        .withColumn("cents_so_far",
          sum(col("__cents")).over(byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("user_id"), col("event_id"), col("n_so_far"), col("cents_so_far"))
    }
  }
}
