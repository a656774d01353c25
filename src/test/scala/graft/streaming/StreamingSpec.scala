package graft.streaming

import graft.{SparkSuite, WeatherFixtures}
import graft.ingest.BronzeWriter
import graft.model.FixedClock
import java.nio.file.Files
import java.time.LocalDateTime
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSuite {

  test("S1-streaming: AvailableNow file stream lands silver incrementally and idempotently") {
    val root = Files.createTempDirectory("graft-stream")
    WeatherFixtures.standard(root)
    val silver = s"$root/silver/current_weather"
    val ckpt = s"$root/ckpt"
    val clock = FixedClock("2024-01-01 07:00:00")

    val q1 = StreamingBronzeToSilver.run(
      spark, s"$root/raw/current/*/*/*/*/*.json", silver, ckpt, clock)
    q1.awaitTermination()
    assert(spark.read.parquet(silver).count() === 2) // DQ gate drops 2 of 4

    // re-run with no new files: checkpoint makes it a no-op (idempotent)
    val q2 = StreamingBronzeToSilver.run(
      spark, s"$root/raw/current/*/*/*/*/*.json", silver, ckpt, clock)
    q2.awaitTermination()
    assert(spark.read.parquet(silver).count() === 2)

    // new bronze batch (via the S6 ingest analog) → only the delta lands
    BronzeWriter.writeBatch(
      root.toString, "current", LocalDateTime.of(2024, 1, 2, 6, 0, 0),
      Seq(WeatherFixtures.currentJson(
        "Paris", "FR", 12.0, 11.0, 60, "2024-01-02T06:00:00", "20240102_060000")))
    val q3 = StreamingBronzeToSilver.run(
      spark, s"$root/raw/current/*/*/*/*/*.json", silver, ckpt, clock)
    q3.awaitTermination()
    val out = spark.read.parquet(silver)
    assert(out.count() === 3)
    assert(out.filter(col("location_name") === "Paris").count() === 1)
  }

  test("windowed counts with watermark work on batch relations too") {
    val counts = EventStreams.windowedCounts(
      graft.sources.Tables.events(spark, sf()), "1 hour", "2 hours")
    val total = counts.agg(sum("n")).head().getLong(0)
    assert(total === 1000) // every event in exactly one tumbling window
    assert(counts.select("event_type").distinct().count() === 5)
  }

  test("stream-static join: windowed counts enrich from a broadcast dim across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    def ts(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
    val dim = Seq(("click", "engagement"), ("purchase", "revenue")).toDF("event_type", "category")
    val q = EventStreams.enrichedWindowedCounts(input.toDF(), dim, "10 minutes", "0 seconds")
      .writeStream.format("memory").queryName("graft_st2").outputMode("append").start()

    input.addData(
      EventStreams.Event(1L, ts(0), "click", 1.0),
      EventStreams.Event(2L, ts(5), "purchase", 10.0),
      EventStreams.Event(3L, ts(7), "error", 0.0))
    q.processAllAvailable()
    // advance the watermark past the first window so it finalizes
    input.addData(EventStreams.Event(9L, ts(60), "click", 0.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("graft_st2")
      .select("event_type", "category", "n")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(rows === Set(
      ("click", "engagement", 1L),
      ("purchase", "revenue", 1L),
      ("error", null, 1L))) // left join keeps unmapped types
  }

  test("bloom-prefiltered stream: non-member events never reach the aggregation, members all do") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    def ts(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
    val keep = Seq(1L, 3L).toDF("vip_id")
    val q = EventStreams.bloomFilteredWindowedCounts(
      input.toDF(), keep, "vip_id", "user_id", "10 minutes", "0 seconds",
      expectedItems = 16, numBits = 1024)
      .writeStream.format("memory").queryName("graft_st7").outputMode("append").start()

    input.addData(
      EventStreams.Event(1L, ts(0), "click", 1.0),
      EventStreams.Event(2L, ts(1), "click", 5.0), // not in the key set
      EventStreams.Event(3L, ts(5), "purchase", 10.0))
    q.processAllAvailable()
    input.addData(EventStreams.Event(1L, ts(60), "click", 0.0)) // advance watermark
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("graft_st7")
      .select("event_type", "n", "value_sum")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    // user 2's click is gone; users 1 and 3 both counted
    assert(rows === Set(("click", 1L, 1.0), ("purchase", 1L, 10.0)))
  }

  test("streaming grouped top-k: bounded state merges across micro-batches, final update ≡ batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.ScoredEvent]
    def ts(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
    val q = EventStreams.groupedTopK(input.toDF(), 2)
      .writeStream.format("memory").queryName("graft_st8").outputMode("update").start()

    input.addData(
      EventStreams.ScoredEvent(1L, ts(0), "click", 5.0),
      EventStreams.ScoredEvent(2L, ts(1), "click", 3.0),
      EventStreams.ScoredEvent(3L, ts(2), "purchase", 7.0))
    q.processAllAvailable()
    val afterBatch1 = spark.table("graft_st8").count()
    // batch 2: 4 beats 2 for click rank-2; purchase unchanged rows re-emit only for its group
    input.addData(EventStreams.ScoredEvent(4L, ts(3), "click", 4.0))
    q.processAllAvailable()
    q.stop()

    val all = spark.table("graft_st8")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val lastUpdate = all.drop(afterBatch1.toInt)
    assert(lastUpdate.toSet === Set(("click", 1, 1L, 5.0), ("click", 2, 4L, 4.0)),
      s"last update was ${lastUpdate.mkString(",")}")
    // batch parity: the same rows through the native batch path
    val batch = EventStreams.groupedTopK(
      Seq(
        (1L, ts(0), "click", 5.0), (2L, ts(1), "click", 3.0),
        (3L, ts(2), "purchase", 7.0), (4L, ts(3), "click", 4.0))
        .toDF("event_id", "event_time", "event_type", "value"), 2)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(batch === Set(
      ("click", 1, 1L, 5.0), ("click", 2, 4L, 4.0), ("purchase", 1, 3L, 7.0)))
  }

  test("streaming grouped top-k state survives a query RESTART from checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-topk-ckpt").toString
    def ts(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
    val input = MemoryStream[EventStreams.ScoredEvent]
    val emissions = new scala.collection.mutable.ArrayBuffer[Set[(String, Int, Long, Double)]]()
    // memory sink cannot recover from a checkpoint; foreachBatch can —
    // and it is also how this op would ship updates in production
    def start() = EventStreams.groupedTopK(input.toDF(), 2)
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.collect()
          .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
        emissions.synchronized { if (rows.nonEmpty) emissions += rows }
        ()
      }
      .start()

    val q1 = start()
    input.addData(
      EventStreams.ScoredEvent(1L, ts(0), "click", 5.0),
      EventStreams.ScoredEvent(2L, ts(1), "click", 3.0))
    q1.processAllAvailable()
    q1.stop()

    // restart from the SAME checkpoint: the heap state (ids 1, 2) must
    // be recovered by the state store, not rebuilt from the (gone) feed
    val q2 = start()
    input.addData(EventStreams.ScoredEvent(3L, ts(3), "click", 4.0))
    q2.processAllAvailable()
    q2.stop()

    // 4.0 displaces 3.0 only if the pre-restart state (5.0, 3.0) was recovered
    assert(emissions.last === Set(("click", 1, 1L, 5.0), ("click", 2, 3L, 4.0)),
      s"emissions were ${emissions.mkString(";")}")
  }

  test("distribution drift: matching window scores ~0, skewed window scores ln2; rides foreachBatch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
    val baseline = Seq(("click", 1L), ("view", 1L)).toDF("event_type", "q_count")

    // batch math: window A matches baseline exactly; window B is all-click
    val events = Seq(
      EventStreams.Event(1L, ts(0), "click", 0.0), EventStreams.Event(2L, ts(1), "view", 0.0),
      EventStreams.Event(3L, ts(2), "click", 0.0), EventStreams.Event(4L, ts(3), "view", 0.0),
      EventStreams.Event(5L, ts(60), "click", 0.0), EventStreams.Event(6L, ts(61), "click", 0.0)
    ).toDF()
    val wc = EventStreams.windowedCounts(events, "10 minutes", "0 seconds")
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        col("event_type"), col("n"))
    val drift = EventStreams.distributionDrift(wc, baseline)
      .orderBy(col("window_start"))
      .collect().map(r => (r.getDouble(3), r.getDouble(4)))
    assert(drift(0) === ((0.0, 0.0)), s"matching window: ${drift(0)}")
    assert(drift(1) === ((0.6931, 0.25)), s"skewed window: ${drift(1)}") // ln 2; ½|1−½|
    // streaming wiring: the same computation per micro-batch of finalized windows
    val input = MemoryStream[EventStreams.Event]
    val seen = new scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    val q = EventStreams.windowedCounts(input.toDF(), "10 minutes", "0 seconds")
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val wcB = df.select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
          col("event_type"), col("n"))
        val rows = EventStreams.distributionDrift(wcB, baseline)
          .collect().map(r => (r.getDouble(3), r.getDouble(4)))
        seen.synchronized { seen ++= rows }
        ()
      }.start()
    input.addData(
      EventStreams.Event(1L, ts(0), "click", 0.0), EventStreams.Event(2L, ts(1), "click", 0.0))
    q.processAllAvailable()
    input.addData(EventStreams.Event(9L, ts(120), "view", 0.0)) // advance watermark, finalize
    q.processAllAvailable()
    q.stop()
    assert(seen.contains((0.6931, 0.25)), s"streamed drift rows: ${seen.mkString(",")}")
  }

  test("stream-stream interval join matches view→purchase across micro-batches, in-horizon only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
    val views = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    def df(m: MemoryStream[(Long, Long, java.sql.Timestamp)]) =
      m.toDF().toDF("user_id", "event_id", "event_time")
    val q = EventStreams.viewPurchaseAttribution(
      df(views), df(purchases), "1 hour", "2 hours")
      .writeStream.format("memory").queryName("graft_st3").outputMode("append").start()

    // view in batch 1; matching purchase arrives in a LATER micro-batch —
    // the buffered view state must still match it
    views.addData((1L, 10L, ts(0)), (2L, 11L, ts(0)))
    q.processAllAvailable()
    purchases.addData(
      (1L, 20L, ts(30)),  // in horizon → match
      (2L, 21L, ts(90)))  // beyond 1 h → no match
    q.processAllAvailable()
    q.stop()

    val got = spark.table("graft_st3")
      .select("user_id", "view_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 10L, 20L)))
  }

  test("streaming AS-OF join: latest in-horizon view wins across micro-batches; no-view purchases null out") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
    val views = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    def df(m: MemoryStream[(Long, Long, java.sql.Timestamp)]) =
      m.toDF().toDF("user_id", "event_id", "event_time")
    val q = EventStreams.asOfEnrichStream(df(views), df(purchases), "1 hour", "2 hours")
      .writeStream.format("memory").queryName("graft_st11").outputMode("append").start()

    // user 1: two in-horizon views (the LATER one must win, from an
    // earlier micro-batch than the purchase); user 2: view beyond the
    // horizon (no match); user 3: purchase with no view at all
    views.addData((1L, 10L, ts(0)), (1L, 11L, ts(20)), (2L, 12L, ts(0)))
    q.processAllAvailable()
    purchases.addData((1L, 20L, ts(30)), (2L, 21L, ts(90)), (3L, 22L, ts(40)))
    q.processAllAvailable()
    // advance BOTH watermarks past everything so the aggregate emits
    views.addData((9L, 90L, ts(400)))
    purchases.addData((9L, 91L, ts(400)))
    q.processAllAvailable()
    views.addData((9L, 92L, ts(800)))
    purchases.addData((9L, 93L, ts(800)))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("graft_st11")
      .select("user_id", "purchase_id", "view_id", "view_lag_sec")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(got.contains((1L, 20L, 11L, 600L)), s"latest view must win: $got")
    assert(got.contains((2L, 21L, -1L, -1L)), s"out-of-horizon view must not match: $got")
    assert(got.contains((3L, 22L, -1L, -1L)), s"no-view purchase must null out: $got")
    // streaming result ≡ the batch plan on the same data
    val bv = Seq((1L, 10L, ts(0)), (1L, 11L, ts(20)), (2L, 12L, ts(0)),
      (9L, 90L, ts(400)), (9L, 92L, ts(800))).toDF("user_id", "event_id", "event_time")
    val bp = Seq((1L, 20L, ts(30)), (2L, 21L, ts(90)), (3L, 22L, ts(40)),
      (9L, 91L, ts(400)), (9L, 93L, ts(800))).toDF("user_id", "event_id", "event_time")
    val batch = EventStreams.asOfEnrichStream(bv, bp, "1 hour", "2 hours")
      .select("user_id", "purchase_id", "view_id", "view_lag_sec")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(got.subsetOf(batch), s"streaming emitted a row batch would not: ${got.diff(batch)}")
  }

  test("stream-stream LEFT OUTER interval join: unmatched views emit null-extended AFTER watermark eviction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
    val views = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    def df(m: MemoryStream[(Long, Long, java.sql.Timestamp)]) =
      m.toDF().toDF("user_id", "event_id", "event_time")
    val q = EventStreams.viewPurchaseAttribution(
      df(views), df(purchases), "1 hour", "2 hours", joinType = "left_outer")
      .writeStream.format("memory").queryName("graft_st3_outer").outputMode("append").start()

    views.addData((1L, 10L, ts(0)), (2L, 11L, ts(0))) // user 2 will never purchase
    purchases.addData((1L, 20L, ts(30)))
    q.processAllAvailable()
    // user 2's view is NOT yet emitted: "no match" is still "not yet"
    val mid = spark.table("graft_st3_outer").collect()
    assert(!mid.exists(r => r.getLong(1) == 11L))

    // advance BOTH watermarks far past view-time + horizon → the
    // unmatched view becomes a fact and emits null-extended
    views.addData((99L, 90L, ts(10000)))
    purchases.addData((99L, 91L, ts(10000)))
    q.processAllAvailable()
    views.addData((99L, 92L, ts(10001)))
    purchases.addData((99L, 93L, ts(10001)))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("graft_st3_outer")
      .select("view_id", "purchase_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(rows(10L) === 20L)  // matched inside horizon
    assert(rows(11L) === -1L)  // unmatched, null-extended exactly once
  }

  test("stream-stream RIGHT OUTER interval join: unmatched purchases emit null-extended after eviction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
    val views = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    def df(m: MemoryStream[(Long, Long, java.sql.Timestamp)]) =
      m.toDF().toDF("user_id", "event_id", "event_time")
    val q = EventStreams.viewPurchaseAttribution(
      df(views), df(purchases), "1 hour", "2 hours", joinType = "right_outer")
      .writeStream.format("memory").queryName("graft_st3_router").outputMode("append").start()

    views.addData((1L, 10L, ts(0)))
    purchases.addData((1L, 20L, ts(30)), (3L, 22L, ts(30))) // user 3 never viewed
    q.processAllAvailable()
    // advance both watermarks far past purchase-time + horizon
    views.addData((99L, 90L, ts(10000)))
    purchases.addData((99L, 91L, ts(10000)))
    q.processAllAvailable()
    views.addData((99L, 92L, ts(10001)))
    purchases.addData((99L, 93L, ts(10001)))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("graft_st3_router")
      .select("purchase_id", "view_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(rows(20L) === 10L)  // matched inside horizon
    assert(rows(22L) === -1L)  // purchase with no view, null-extended once
  }

  test("flatMapGroupsWithState sessionization: gap splits sessions, aggregates are exact") {
    import spark.implicits._
    def ts(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
    val events = Seq(
      EventStreams.Event(1L, ts(0), "click", 1.0),
      EventStreams.Event(1L, ts(10), "click", 2.0),
      EventStreams.Event(1L, ts(120), "view", 3.0), // 110-min gap → new session
      EventStreams.Event(2L, ts(5), "click", 5.0)
    ).toDS()
    val sessions = EventStreams.sessionize(events, gapMinutes = 30)
      .collect().sortBy(s => (s.user_id, s.session_start.getTime))
    assert(sessions.length === 3)
    assert(sessions(0).n_events === 2 && sessions(0).value_sum === 3.0)
    assert(sessions(1).n_events === 1 && sessions(1).value_sum === 3.0)
    assert(sessions(2).user_id === 2L && sessions(2).n_events === 1)
  }

  test("streaming dedup drops within-watermark repeats across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    def ts(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
    val q = EventStreams.dedupStream(input.toDS().toDF(), "event_time", Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("graft_dedup_stream").outputMode("append").start()
    input.addData(
      EventStreams.Event(1L, ts(0), "click", 1.0),
      EventStreams.Event(1L, ts(1), "click", 2.0), // same key within watermark → dropped
      EventStreams.Event(2L, ts(0), "view", 3.0))
    q.processAllAvailable()
    // second batch repeats a seen key (still inside the watermark) and
    // introduces a fresh one
    input.addData(
      EventStreams.Event(1L, ts(2), "click", 4.0), // repeat across batches → dropped
      EventStreams.Event(1L, ts(2), "view", 5.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_dedup_stream")
    assert(got.count() === 3) // (1,click), (2,view), (1,view)
    assert(got.filter(col("user_id") === 1 && col("event_type") === "click").count() === 1)
    // batch path: plain dropDuplicates semantics
    val batch = EventStreams.dedupStream(
      Seq(EventStreams.Event(1L, ts(0), "click", 1.0),
        EventStreams.Event(1L, ts(9), "click", 2.0)).toDS().toDF(),
      "event_time", Seq("user_id", "event_type"))
    assert(batch.count() === 1)
  }

  test("streaming MV maintenance: foreachBatch refreshes the summary, the rewrite serves fresh numbers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft-stream-mv")
    val base = s"$root/fact"
    val summary = s"$root/summary"
    val input = MemoryStream[(String, Long)]

    val sink = input.toDS().toDF("status", "cents").writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.persist()
        // fact append + incremental summary refresh + MV re-registration:
        // the nightly "maintain the dashboard rollup" loop, per micro-batch
        batch.write.mode("append").parquet(base)
        graft.ops.ChangeData.incrementalAggCommit(
          spark, summary, batch, Seq("status"), Seq("cents"))
        graft.sql.MaterializedAgg.registerSnapshot(
          spark, summary, base, Seq("status"), Seq("cents"))
        batch.unpersist()
        ()
      }

    try {
      input.addData(("A", 10L), ("A", 20L), ("B", 5L))
      val q1 = sink.start(); q1.processAllAvailable(); q1.stop()

      def agg = spark.read.parquet(base).groupBy("status")
        .agg(count(lit(1)).alias("n"), sum("cents").alias("s"), avg("cents").alias("a"))
      def scans = agg.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.rootPaths.map(_.toUri.getPath)
      }.flatten
      assert(scans.nonEmpty && scans.forall(_.contains("/summary/")),
        s"query must be served from the maintained summary, got $scans")
      val r1 = agg.orderBy("status").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(r1 === Seq(("A", 2L, 30L), ("B", 1L, 5L)))

      // second micro-batch: summary version advances, rewrite sees NEW numbers
      input.addData(("A", 5L), ("C", 7L))
      val q2 = sink.start(); q2.processAllAvailable(); q2.stop()
      val r2 = agg.orderBy("status").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(r2 === Seq(("A", 3L, 35L), ("B", 1L, 5L), ("C", 1L, 7L)))
      // and avg came through the sum/cnt rewrite exactly
      val a = agg.filter(col("status") === "A").head().getDouble(3)
      assert(a === 35.0 / 3.0)
    } finally graft.sql.MaterializedAgg.clear()
  }

  test("state is bounded: 10x the input rows leaves the state-store row count unchanged") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // same event-time span and key cardinality, 10x the rows: windowed
    // aggregation state is O(open windows x types), NOT O(input) — the
    // property that lets the operator survive an unbounded feed
    def stateRowsFor(n: Int): Long = {
      val input = MemoryStream[EventStreams.Event]
      val q = EventStreams.windowedCounts(input.toDF(), "10 minutes", "5 minutes")
        .writeStream.format("noop").outputMode("update").start()
      (0 until 3).foreach { b =>
        input.addData((0 until n).map { i =>
          EventStreams.Event(i % 50,
            new java.sql.Timestamp(1704067200000L + (b * 10 + i * 10 / n) * 60000L),
            Seq("click", "view")(i % 2), 1.0)
        })
        q.processAllAvailable()
      }
      val rows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      q.stop()
      rows
    }
    val small = stateRowsFor(2000)
    val big = stateRowsFor(20000)
    assert(small > 0)
    assert(big === small, s"state grew with input: $small -> $big")
  }

  test("native session_window merges across micro-batches and emits once the watermark closes it") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    def ts(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
    val q = input.toDF()
      .withWatermark("event_time", "0 seconds")
      .groupBy(col("user_id"), session_window(col("event_time"), "30 minutes"))
      .agg(count(lit(1)).cast("int").alias("n"), sum(col("value")).alias("v"))
      .select(col("user_id"), col("session_window.start").alias("s"), col("n"), col("v"))
      .writeStream.format("memory").queryName("graft_st5_stream").outputMode("append").start()

    input.addData(
      EventStreams.Event(7L, ts(0), "click", 1.0),
      EventStreams.Event(7L, ts(5), "click", 1.5))
    q.processAllAvailable()
    // continuation WITHIN the gap in a later batch must MERGE into the
    // open session state, not emit a fragment
    input.addData(EventStreams.Event(7L, ts(10), "view", 2.5))
    q.processAllAvailable()
    assert(spark.table("graft_st5_stream").filter(col("user_id") === 7).isEmpty)

    // watermark passes start+gap → the merged session finalizes once
    input.addData(EventStreams.Event(99L, ts(10000), "click", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_st5_stream").filter(col("user_id") === 7).collect()
    assert(got.length === 1)
    assert(got.head.getAs[Int]("n") === 3 && got.head.getAs[Double]("v") === 5.0)
    assert(got.head.getAs[java.sql.Timestamp]("s").getTime === ts(0).getTime)
  }

  test("streaming sessionization: a session spanning micro-batches is emitted exactly ONCE") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    def ts(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
    val q = EventStreams.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("graft_sessions_span").outputMode("append").start()

    // batch 1: two events for user 7
    input.addData(
      EventStreams.Event(7L, ts(0), "click", 1.0),
      EventStreams.Event(7L, ts(5), "click", 1.5))
    q.processAllAvailable()
    // batch 2: continuation WITHIN the gap — must merge into the open
    // session, not start (or emit) a new one
    input.addData(EventStreams.Event(7L, ts(10), "view", 2.5))
    q.processAllAvailable()
    assert(spark.table("graft_sessions_span").isEmpty) // still open: nothing emitted

    // batches 3-4: watermark advancers (another user, far future). The
    // timeout check runs against the PREVIOUS batch's watermark, so it
    // takes one extra batch to observe the advance.
    input.addData(EventStreams.Event(99L, ts(10000), "click", 0.0))
    q.processAllAvailable()
    input.addData(EventStreams.Event(99L, ts(10001), "click", 0.0))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("graft_sessions_span").as[EventStreams.UserSession]
      .collect().filter(_.user_id == 7L)
    assert(got.length === 1) // ONE session — not one fragment per batch
    assert(got(0).n_events === 3 && got(0).value_sum === 5.0)
    assert(got(0).session_start.getTime === ts(0).getTime)
    assert(got(0).session_end.getTime === ts(10).getTime)
  }

  test("streaming sessionization: in-batch gap closes immediately, trailing closes on timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    def ts(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
    val q = EventStreams.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("graft_sessions_gap").outputMode("append").start()

    input.addData(
      EventStreams.Event(7L, ts(0), "click", 1.0),
      EventStreams.Event(7L, ts(5), "click", 1.5),
      EventStreams.Event(8L, ts(0), "view", 4.0))
    q.processAllAvailable()
    // beyond-gap event in a later batch: the fold closes session 1 right
    // here (no timeout needed) and opens session 2
    input.addData(EventStreams.Event(7L, ts(120), "click", 9.0))
    q.processAllAvailable()
    val mid = spark.table("graft_sessions_gap").as[EventStreams.UserSession].collect()
    assert(mid.count(_.user_id == 7L) === 1)
    assert(mid.find(_.user_id == 7L).get.n_events === 2)

    // advance the watermark twice → user 7's session 2 and user 8's
    // session time out and emit
    input.addData(EventStreams.Event(99L, ts(10000), "click", 0.0))
    q.processAllAvailable()
    input.addData(EventStreams.Event(99L, ts(10001), "click", 0.0))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("graft_sessions_gap").as[EventStreams.UserSession]
      .collect().sortBy(s => (s.user_id, s.session_start.getTime))
    assert(got.count(_.user_id == 7L) === 2)
    assert(got.filter(_.user_id == 7L).map(_.n_events).toSeq === Seq(2, 1))
    assert(got.count(_.user_id == 8L) === 1)
  }

  test("transformWithState running stats: ValueState survives micro-batches, emits exactly the batch window plan") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the arbitrary-state API requires the RocksDB state store provider
    val prior = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[EventStreams.TwsEvent]
      val q = EventStreams.runningUserStats(input.toDF())
        .writeStream.format("memory").queryName("graft_st12").outputMode("append").start()
      // two users interleaved, fed in event-time order across THREE
      // micro-batches — the running totals must carry across batches
      input.addData(
        EventStreams.TwsEvent(1L, 10L, 1000L, 1.25),
        EventStreams.TwsEvent(2L, 11L, 1500L, 2.00),
        EventStreams.TwsEvent(1L, 12L, 2000L, 0.75))
      q.processAllAvailable()
      input.addData(
        EventStreams.TwsEvent(1L, 13L, 3000L, 10.00),
        EventStreams.TwsEvent(2L, 14L, 3500L, 0.10))
      q.processAllAvailable()
      input.addData(EventStreams.TwsEvent(2L, 15L, 4000L, 5.55))
      q.processAllAvailable()
      q.stop()

      val streamed = spark.table("graft_st12")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val batch = EventStreams.runningUserStats(
        Seq(
          (1L, 10L, 1000L, 1.25), (2L, 11L, 1500L, 2.00), (1L, 12L, 2000L, 0.75),
          (1L, 13L, 3000L, 10.00), (2L, 14L, 3500L, 0.10), (2L, 15L, 4000L, 5.55))
          .toDF("user_id", "event_id", "ts_us", "value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed === batch,
        s"streaming running stats diverged from the batch window plan:\n$streamed\nvs\n$batch")
      // spot-check the cumulative cents really accumulated across batches
      assert(streamed.contains((1L, 13L, 3L, 1200L)), s"user 1 final row wrong: $streamed")
      assert(streamed.contains((2L, 15L, 3L, 765L)), s"user 2 final row wrong: $streamed")
    } finally prior match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}
