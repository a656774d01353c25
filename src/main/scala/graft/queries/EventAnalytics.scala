package graft.queries

import graft.ops.ChangeData
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-analytics composites (round 7): funnel conversion, cohort
  * retention, trailing-window anomaly detection, CDC changelog
  * application and snapshot diffing — the product-analytics and
  * table-maintenance shapes a warehouse serves daily, over the driver's
  * `events` table with full DuckDB oracles.
  */
object EventAnalytics {

  type Q = (SparkSession, String) => DataFrame

  /** C8: ordered funnel view → click → purchase. Each stage is the
    * earliest qualifying event strictly after the user's previous-stage
    * time. Three key-partitioned aggregates + two equi joins on
    * user_id — every shuffle is keyed by user_id, so at 100 TB the plan
    * is three passes over the (pre-filtered) event types, never a
    * per-user sort of the full stream. */
  val c8Funnel: Q = (s, d) => {
    val e = Tables.events(s, d)
    def stage(t: String) = e.filter(col("event_type") === t)
    val v = stage("view").groupBy(col("user_id")).agg(min(col("ts_us")).alias("v_us"))
    val c = stage("click").join(v, Seq("user_id"))
      .filter(col("ts_us") > col("v_us"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).alias("c_us"))
    val p = stage("purchase").join(c, Seq("user_id"))
      .filter(col("ts_us") > col("c_us"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).alias("p_us"))
    v.agg(count(lit(1)).alias("users_view"))
      .crossJoin(broadcast(c.agg(count(lit(1)).alias("users_click"))))
      .crossJoin(broadcast(p.agg(count(lit(1)).alias("users_purchase"))))
  }

  /** C9: weekly cohort retention — users bucketed by the Monday week of
    * their first event; distinct actives per (cohort week, week
    * offset). One per-user aggregate, one join back keyed on user_id,
    * one distinct aggregate — the classic two-shuffle retention plan. */
  val c9Cohort: Q = (s, d) => {
    val e = Tables.events(s, d)
    val firsts = e.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("event_time"))).cast("date").alias("cohort_week"))
    e.join(firsts, Seq("user_id"))
      .select(
        col("cohort_week"),
        (datediff(date_trunc("week", col("event_time")).cast("date"), col("cohort_week")) / 7)
          .cast("int").alias("week_offset"),
        col("user_id"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).alias("n_users"))
      .select(
        date_format(col("cohort_week"), "yyyy-MM-dd").alias("cohort_week"),
        col("week_offset"), col("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** C10: trailing-window anomaly detection — per-user z-score of each
    * event's value against the preceding 20 events (sample stddev,
    * ≥ 10 observations). The window is user-partitioned: no global
    * sort, parallel across users, frame state is 20 rows. */
  val c10Anomaly: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us")).rowsBetween(-20, -1)
    Tables.events(s, d)
      .select(
        col("event_id"), col("user_id"), col("value"),
        avg(col("value")).over(w).alias("__mean"),
        stddev_samp(col("value")).over(w).alias("__sd"),
        count(col("value")).over(w).alias("__n"))
      .filter(col("__n") >= 10 && col("__sd") > 0)
      .select(col("event_id"), col("user_id"), col("value"),
        ((col("value") - col("__mean")) / col("__sd")).alias("__z"))
      .filter(abs(col("__z")) > 1.5)
      .select(col("event_id"), col("user_id"), col("value"),
        round(col("__z"), 2).alias("z"))
      .orderBy(col("event_id"))
  }

  /** DT1: CDC changelog application ([[graft.ops.ChangeData.applyChangelog]])
    * — events replayed as a changelog keyed by user_id, versioned by
    * ts_us, with 'error' rows as tombstones: latest state per user,
    * deleted users absent. The operator is a single partial-aggregable
    * `max(struct(...))` — no window sort. */
  val dtCdcApply: Q = (s, d) =>
    ChangeData.applyChangelog(
      Tables.events(s, d).select(
        col("user_id"), col("ts_us"), col("event_id"), col("event_type"), col("value")),
      keyCols = Seq("user_id"), versionCol = "ts_us", opCol = "event_type",
      deleteOp = "error")
      .select(col("user_id"), col("event_id").alias("last_event_id"),
        col("event_type").alias("last_type"), col("value").alias("last_value"))
      .orderBy(col("user_id"))

  /** DT2: snapshot diff ([[graft.ops.ChangeData.snapshotDiff]]) between
    * each user's latest value as of Jan 15 and as of Feb 1 — added /
    * removed / changed / unchanged per key via pre-shuffle digests. */
  val dtSnapshotDiff: Q = (s, d) => {
    val e = Tables.events(s, d)
    def stateAt(cutUs: Long) = e
      .filter(col("ts_us") < cutUs)
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts_us"), col("event_id"), col("value"))).alias("__s"))
      .select(col("user_id"), col("__s.value").alias("value"))
    // 2024-01-15 / 2024-02-01 00:00 UTC in epoch microseconds
    ChangeData.snapshotDiff(
      stateAt(1705276800000000L), stateAt(1706745600000000L), Seq("user_id"))
      .orderBy(col("user_id"))
  }

  /** The 1995-activity merge source shared by `dt_merge_into` and
    * `dt_time_travel`: per-customer spend in integer cents, with every
    * 7th key shifted past the customer range so the NOT MATCHED clause
    * fires too. */
  private def mergeSource(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(year(col("o_orderdate")) === 1995)
      .groupBy(
        when(col("o_custkey") % 7 === 0, col("o_custkey") + 1000000000000L)
          .otherwise(col("o_custkey")).alias("c_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).alias("delta_cents"))

  private def mergeCustomer(target: DataFrame, src: DataFrame): DataFrame =
    ChangeData.mergeInto(
      target = target,
      source = src,
      keyCols = Seq("c_custkey"),
      updateSet = Map(
        "c_acctbal" -> ((round(col("__t.c_acctbal") * 100).cast("long") +
          col("__s.delta_cents")) / 100.0)),
      deleteWhen = Some(col("__s.delta_cents") > 80000000L),
      insertValues = Map(
        "c_name" -> concat(lit("new-"), col("__s.c_custkey")),
        "c_nationkey" -> lit(-1),
        "c_acctbal" -> (col("__s.delta_cents") / 100.0),
        "c_mktsegment" -> lit("NEW")),
      broadcastSource = true)

  /** DT3: MERGE INTO ([[graft.ops.ChangeData.mergeInto]]) — the
    * warehouse upsert statement over `customer`, with a source batch
    * derived from 1995 order activity. All three clauses fire:
    * matched+big-spender → DELETE, matched → UPDATE (acctbal += spend),
    * not-matched (keys shifted past the customer range) → INSERT.
    * Money moves in integer cents so both engines compute bit-identical
    * doubles from one final division. Runs the `broadcastSource`
    * low-shuffle plan: the wide target side never shuffles. */
  val dtMergeInto: Q = (s, d) =>
    mergeCustomer(Tables.customer(s, d), mergeSource(s, d))
      .orderBy(col("c_custkey"))

  /** DT4: time travel over [[graft.store.SnapshotStore]] — commit the
    * customer table (v0), run the MERGE as the next atomic snapshot
    * (v1), then read BOTH versions by number: the pre-merge snapshot
    * stays byte-stable under the committed rewrite. Summaries use
    * integer cents so both engines agree exactly. */
  val dtTimeTravel: Q = (s, d) => {
    val table = Fixtures.table("timetravel", d) { t =>
      graft.store.SnapshotStore.commit(Tables.customer(s, d), t)
      graft.store.SnapshotStore.commit(
        mergeCustomer(graft.store.SnapshotStore.read(s, t), mergeSource(s, d)), t)
    }
    def summary(v: Long) =
      graft.store.SnapshotStore.readVersion(s, table, v)
        .agg(
          count(lit(1)).alias("n_rows"),
          sum(round(col("c_acctbal") * 100).cast("long")).alias("bal_cents"))
        .select(lit(v).alias("version"), col("n_rows"), col("bal_cents"))
    summary(0L).unionAll(summary(1L)).orderBy(col("version"))
  }

  /** DT20: RESTORE ([[graft.store.SnapshotStore.restoreCommit]]) —
    * commit the customer table (v0), fat-finger it with a tiny
    * overwrite (v1), then roll back: v2 is a NEW head referencing v0's
    * exact files (one marker write, zero bytes copied). The query
    * summarizes the bad head and the restored head by version; the
    * oracle replays both states as plain filters. Integer cents. */
  val dtRestore: Q = (s, d) => {
    val table = Fixtures.table("restore", d) { t =>
      graft.store.SnapshotStore.commit(Tables.customer(s, d), t)
      graft.store.SnapshotStore.commit(
        Tables.customer(s, d).filter(pmod(col("c_custkey"), lit(100)) === 0), t)
      graft.store.SnapshotStore.restoreCommit(s, t, 0L)
    }
    def summary(v: Long) =
      graft.store.SnapshotStore.readVersion(s, table, v)
        .agg(
          count(lit(1)).alias("n_rows"),
          sum(round(col("c_acctbal") * 100).cast("long")).alias("bal_cents"))
        .select(lit(v).alias("version"), col("n_rows"), col("bal_cents"))
    summary(1L).unionAll(summary(2L)).orderBy(col("version"))
  }

  /** DT6: merge-on-read deletion vectors
    * ([[graft.store.SnapshotStore.deleteCommit]]) — commit the orders
    * fact (v0), then two delete commits that write ONLY the deleted
    * keys and reuse v0's data directory untouched; the read applies the
    * accumulated DVs as a broadcast anti join. The oracle replays the
    * two predicates as plain filters (row-local predicates compose, so
    * live = NOT p1 AND NOT p2). Money in integer cents. */
  val dtDeleteVectors: Q = (s, d) => {
    val table = Fixtures.table("delvec", d) { t =>
      graft.store.SnapshotStore.commit(Tables.orders(s, d), t)
      graft.store.SnapshotStore.deleteCommit(s, t, Seq("o_orderkey"),
        col("o_orderstatus") === "F" && pmod(col("o_orderkey"), lit(5)) === 0)
      graft.store.SnapshotStore.deleteCommit(s, t, Seq("o_orderkey"),
        pmod(col("o_orderkey"), lit(7)) === 3)
    }
    graft.store.SnapshotStore.read(s, table)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).alias("n_rows"),
        sum(round(col("o_totalprice") * 100).cast("long")).alias("price_cents"))
      .orderBy(col("o_orderstatus"))
  }

  /** DT17: APPENDS OVER LIVE DELETION VECTORS (scoped DVs) — the full
    * merge-on-read timeline: commit orders (v0), delete keys ≡1 mod 50
    * (v1, the realistic ~2% DV delta — DVs stay a SMALL-delta
    * mechanism, larger deletes are compaction's job), append back the
    * half with keys ≡1 mod 100 (v2 — legal because the v1 DV is SCOPED
    * to v0's files, so the re-appended keys are new rows, not
    * resurrected ones), then delete keys ≡101 mod 200 (v3 — covers the
    * appended files too, killing half the re-appends). The oracle
    * replays the timeline as a pure predicate: a row is live iff its
    * key is not ≡1 mod 50, OR it was re-appended and not re-deleted
    * (key ≡1 mod 200). Read through the DSv2 connector, so the
    * per-file DV class dispatch is what answers. */
  val dtDvAppend: Q = (s, d) => {
    val table = Fixtures.table("dvappend", d) { t =>
      val orders = Tables.orders(s, d)
      val files = s.sparkContext.defaultParallelism.max(4)
      graft.store.SnapshotStore.commit(orders.repartition(files), t)
      graft.store.SnapshotStore.deleteCommit(s, t, Seq("o_orderkey"),
        pmod(col("o_orderkey"), lit(50)) === 1)
      graft.store.SnapshotStore.appendCommit(
        orders.filter(pmod(col("o_orderkey"), lit(100)) === 1).coalesce(2), t)
      graft.store.SnapshotStore.deleteCommit(s, t, Seq("o_orderkey"),
        pmod(col("o_orderkey"), lit(200)) === 101)
    }
    s.read.format("graft-snapshot").option("path", table).load()
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).alias("n_rows"),
        sum(round(col("o_totalprice") * 100).cast("long")).alias("cents"))
      .orderBy(col("o_orderstatus"))
  }

  /** DT7: snapshot table read through the DataSource V2 connector
    * ([[graft.sources.SnapshotDataSource]]) — commit the orders fact
    * range-partitioned into multiple files, apply a deletion-vector
    * commit, then query via `format("graft-snapshot")`: pruned columns,
    * a pushed filter, DVs applied inside the partition readers. The
    * oracle replays the delete predicate + filter as plain SQL — proving
    * the connector path answers exactly like the engine path (file
    * skipping and projection are IO-only). */
  val dtDsv2Scan: Q = (s, d) => {
    val table = Fixtures.table("dsv2", d) { t =>
      // file count scales with the session's parallelism, not a constant:
      // snapshot files bound BOTH the write fan-out and the connector's
      // read partitions (row groups follow file layout), so 4 files at sf10
      // would serialize 1.5M-row file reads (measured 44 s -> see SCALE.md)
      val files = s.sparkContext.defaultParallelism.max(4)
      graft.store.SnapshotStore.commit(
        Tables.orders(s, d).repartitionByRange(files, col("o_orderkey")), t)
      // DVs are a SMALL-delta mechanism (deletes past a few percent are
      // compaction's job — ops/Bucketing.compactCommit materializes them
      // away), so the fixture deletes ~2%: the realistic DV read shape
      graft.store.SnapshotStore.deleteCommit(s, t, Seq("o_orderkey"),
        pmod(col("o_orderkey"), lit(50)) === 1)
    }
    s.read.format("graft-snapshot").option("path", table).load()
      .filter(col("o_totalprice") > 300000.0)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).alias("n"),
        sum(round(col("o_totalprice") * 100).cast("long")).alias("cents"))
      .orderBy(col("o_orderpriority"))
  }

  /** DT7b: JOIN-DRIVEN DYNAMIC FILE PRUNING through the DSv2 connector
    * ([[graft.sources.SnapshotScan]] as `SupportsRuntimeV2Filtering`
    * over data columns) — the orders fact commits range-clustered by
    * `o_custkey`; the customer dim is filtered on a NON-key column
    * (`c_name`), so the surviving custkeys are only known once the
    * broadcast side materializes. Spark's dynamic-pruning machinery
    * hands those keys back to the scan as a runtime IN; the scan drops
    * every file whose custkey range provably excludes them BEFORE any
    * task launches — the DSv2 analog of dynamic partition pruning,
    * with no directory layout. The oracle replays the join as plain
    * SQL: runtime pruning is IO-only, the answer must be identical. */
  val dtRuntimePrune: Q = (s, d) => {
    val table = Fixtures.table("rtprune", d) { t =>
      val files = s.sparkContext.defaultParallelism.max(4)
      graft.store.SnapshotStore.commit(
        Tables.orders(s, d).repartitionByRange(files, col("o_custkey")), t)
    }
    val dim = Tables.customer(s, d)
      .filter(col("c_name").isin(
        "Customer#000000013", "Customer#000000037", "Customer#000000103"))
      .select(col("c_custkey"), col("c_name"))
    s.read.format("graft-snapshot").option("path", table).load()
      .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_name"))
      .agg(
        count(lit(1)).alias("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).alias("cents"))
      .orderBy(col("c_name"))
  }

  /** DT8: the TableCatalog surface end-to-end — commit the orders fact
    * under a warehouse (v0), apply a deletion-vector commit (v1), then
    * answer ENTIRELY in SQL through [[graft.sources.SnapshotCatalog]]
    * with Spark's native `VERSION AS OF` time travel. The catalog name
    * is derived from the warehouse path (catalog instances are cached
    * by name per session — a fixed name would pin the first run's
    * warehouse forever). Oracle replays both versions as plain filters
    * in integer cents. */
  val dtCatalogTt: Q = (s, d) => {
    val wh = Fixtures.dir("cattt", d) { root =>
      // parallelism-scaled file count: snapshot files bound the connector's
      // read partitions (same reasoning as dtDsv2Scan)
      graft.store.SnapshotStore.commit(
        Tables.orders(s, d).repartition(s.sparkContext.defaultParallelism.max(4)),
        s"$root/facts/orders")
      graft.store.SnapshotStore.deleteCommit(s, s"$root/facts/orders", Seq("o_orderkey"),
        pmod(col("o_orderkey"), lit(50)) === 2)
    }
    val cat = "gsnap_" + java.security.MessageDigest.getInstance("MD5")
      .digest(wh.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.SnapshotCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(
      s"""SELECT CAST(0 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
          FROM $cat.facts.orders VERSION AS OF 0
          UNION ALL
          SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          FROM $cat.facts.orders
          ORDER BY version""")
  }

  /** DT9: footer-aggregate pushdown — COUNT/MIN/MAX over a snapshot
    * table answered ENTIRELY from parquet footers through the DSv2
    * connector ([[graft.sources.SnapshotDataSource]]): the scan is
    * metadata-only (SnapshotDsv2Spec pins the FOOTER AGGREGATE plan and
    * the decline paths — filters, DVs, string stats). At 100 TB this is
    * the difference between an O(footers) and an O(table) row count. */
  val dtAggPushdown: Q = (s, d) => {
    val table = Fixtures.table("aggpd", d) { t =>
      graft.store.SnapshotStore.commit(
        Tables.orders(s, d).repartition(s.sparkContext.defaultParallelism.max(4)), t)
    }
    s.read.format("graft-snapshot").option("path", table).load()
      .agg(
        count(lit(1)).alias("n"),
        round(min(col("o_totalprice")), 2).alias("min_price"),
        round(max(col("o_totalprice")), 2).alias("max_price"),
        max(col("o_orderkey")).alias("max_key"))
  }

  /** DT5: incremental materialized-aggregate refresh
    * ([[graft.ops.ChangeData.incrementalAggCommit]]) — the orders fact
    * applied as three year-sliced deltas into a per-customer aggregate
    * snapshot; the final state must equal the one-shot aggregate over
    * all history (the oracle), with history never rescanned. Money in
    * integer cents for exactness. */
  val dtIncrAgg: Q = (s, d) => {
    val table = Fixtures.table("incragg", d) { t =>
      val orders = Tables.orders(s, d).select(
        col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").alias("cents"),
        year(col("o_orderdate")).alias("__y"))
      Seq((0, 1996), (1996, 1999), (1999, 3000)).foreach { case (lo, hi) =>
        ChangeData.incrementalAggCommit(s, t,
          orders.filter(col("__y") >= lo && col("__y") < hi).drop("__y"),
          Seq("o_custkey"), Seq("cents"))
      }
    }
    graft.store.SnapshotStore.read(s, table)
      .select(col("o_custkey"), col("n"),
        col("sum_cents"), col("min_cents"), col("max_cents"))
      .orderBy(col("o_custkey"))
  }

  /** C12: event-transition matrix (first-order Markov counts) — lead()
    * per user gives (state, next state); probabilities normalize per
    * source state over the 25-row transition table, never raw events.
    * The only event-sized shuffle is the user-partitioned window. */
  val c12Transitions: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_type").alias("from_type"),
        lead(col("event_type"), 1).over(w).alias("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).alias("n"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n") / sum(col("n")).over(Window.partitionBy(col("from_type"))), 4).alias("p"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** SK3: skew diagnostics — per-key row counts, the top-5 heaviest
    * keys with their multiple of the mean (the report that decides
    * whether a join needs salting). One aggregate + a broadcast scalar
    * + a per-partition-heap top-5 (TakeOrderedAndProject). */
  val skSkewReport: Q = (s, d) => {
    val counts = Tables.events(s, d)
      .groupBy(col("user_id")).agg(count(lit(1)).alias("n_rows"))
    val stats = counts.agg(
      count(lit(1)).alias("n_keys"),
      avg(col("n_rows")).alias("__avg"))
    counts.crossJoin(broadcast(stats))
      .select(col("user_id"), col("n_rows"),
        round(col("n_rows") / col("__avg"), 4).alias("skew_x"),
        col("n_keys"))
      .orderBy(col("n_rows").desc, col("user_id"))
      .limit(5)
  }


  /** Register (idempotently) a [[graft.sources.SnapshotCatalog]] over
    * `wh` under a name derived from the path — catalog instances are
    * cached by name per session, so the name must follow the warehouse. */
  private def snapCatalog(s: SparkSession, wh: String): String = {
    val cat = "gsnap_" + java.security.MessageDigest.getInstance("MD5")
      .digest(wh.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.SnapshotCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    cat
  }

  /** DT10: file-granular APPEND ([[graft.store.SnapshotStore.appendCommit]])
    * — the incremental daily-load shape (the reference's Silver append,
    * `bronze_to_silver.py:116`): v0 holds pre-1996 orders, v1 appends the
    * rest as an O(new-files) commit that links v0's files untouched. The
    * oracle is the PLAIN orders aggregate — append must reconstruct the
    * full fact exactly, with no row doubled (a dir-granular image would)
    * or lost. */
  val dtAppend: Q = (s, d) => {
    val table = Fixtures.table("dtappend", d) { t =>
      val orders = Tables.orders(s, d)
      val files = s.sparkContext.defaultParallelism.max(4)
      graft.store.SnapshotStore.commit(
        orders.filter(year(col("o_orderdate")) < 1996).repartition(files), t)
      graft.store.SnapshotStore.appendCommit(
        orders.filter(year(col("o_orderdate")) >= 1996).repartition(files), t)
    }
    s.read.format("graft-snapshot").option("path", table).load()
      .groupBy(year(col("o_orderdate")).alias("yr"))
      .agg(
        count(lit(1)).alias("n_rows"),
        sum(round(col("o_totalprice") * 100).cast("long")).alias("cents"))
      .orderBy(col("yr"))
  }

  /** DT21: METADATA-ONLY DELETE (`SupportsDeleteV2` +
    * `OptimizeMetadataOnlyDeleteFromTable`) — the retention shape: a
    * table built from date-ranged appends, then
    * `DELETE WHERE o_orderdate >= DATE'1997-01-01'` drops the matching
    * files as a PURE manifest edit (no job, no data read, no footer
    * open — every file classifies all-match/none-match from the stats
    * sidecar). The fixture REQUIRES the commit landed as
    * `delete-files`: a silent fallback to copy-on-write would still
    * answer right but would not be the operator under test. Oracle:
    * the surviving date range aggregated from raw orders. */
  val dtDeleteFiles: Q = (s, d) => {
    val wh = Fixtures.dir("mdelwh", d) { root =>
      val cat = snapCatalog(s, root)
      val t = s"$root/facts/orders"
      val orders = Tables.orders(s, d)
      val files = s.sparkContext.defaultParallelism.max(4)
      graft.store.SnapshotStore.commit(
        orders.filter(col("o_orderdate") < lit("1997-01-01").cast("date"))
          .repartition(files), t)
      graft.store.SnapshotStore.appendCommit(
        orders.filter(col("o_orderdate") >= lit("1997-01-01").cast("date"))
          .repartition(files), t)
      s.sql(s"DELETE FROM $cat.facts.orders WHERE o_orderdate >= DATE'1997-01-01'")
      val v = graft.store.SnapshotStore.currentVersion(s, t).get
      val m = graft.store.SnapshotStore.manifest(s, t, v)
      require(m.op == "delete-files",
        s"dt_delete_files must execute as a metadata-only manifest edit, got op=${m.op}")
    }
    val cat = snapCatalog(s, wh)
    s.sql(
      s"""SELECT CAST(year(o_orderdate) AS INT) AS yr,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM $cat.facts.orders
          GROUP BY year(o_orderdate) ORDER BY yr""")
  }

  /** DT22: BATCH CHANGE-FEED READ (the `table_changes` shape) — after
    * v0 (pre-1996 orders) and an append (v1: the rest), a plain
    * `spark.read` with `changeFeed` + `startingVersion=1` returns ONLY
    * v1's insert delta: O(new files), never a table rescan — the
    * incremental batch-refresh surface. The oracle recomputes the
    * delta's aggregate from raw orders with the same date split. */
  val dtChangesBatch: Q = (s, d) => {
    val table = Fixtures.table("cdfbatch", d) { t =>
      val orders = Tables.orders(s, d)
      val files = s.sparkContext.defaultParallelism.max(4)
      graft.store.SnapshotStore.commit(
        orders.filter(year(col("o_orderdate")) < 1996).repartition(files), t)
      graft.store.SnapshotStore.appendCommit(
        orders.filter(year(col("o_orderdate")) >= 1996).repartition(files), t)
    }
    s.read.format("graft-snapshot").option("path", table)
      .option("changeFeed", "true").option("startingVersion", "1").load()
      .groupBy(col("_change_type"), year(col("o_orderdate")).alias("yr"))
      .agg(
        count(lit(1)).alias("n_rows"),
        sum(round(col("o_totalprice") * 100).cast("long")).alias("cents"))
      .orderBy(col("_change_type"), col("yr"))
  }

  /** DT24: VERSION TAGS — pin v0 of the customer table under a name,
    * advance it twice, vacuum past the untagged middle version, then
    * read the PINNED snapshot by name (`version=golden`) next to the
    * head: the tag must keep v0's full content readable after
    * retention collected its untagged sibling. Oracle replays both
    * states as plain filters; integer cents. */
  val dtTagRead: Q = (s, d) => {
    val table = Fixtures.table("tagread", d) { t =>
      graft.store.SnapshotStore.commit(Tables.customer(s, d), t) // v0
      graft.store.SnapshotStore.createTag(s, t, "golden")        // pins v0
      graft.store.SnapshotStore.commit(
        Tables.customer(s, d).filter(pmod(col("c_custkey"), lit(3)) === 0), t) // v1
      graft.store.SnapshotStore.commit(
        Tables.customer(s, d).filter(pmod(col("c_custkey"), lit(3)) =!= 1), t) // v2
      graft.store.SnapshotStore.commit(
        Tables.customer(s, d).filter(pmod(col("c_custkey"), lit(2)) === 0), t) // v3
      val dropped = graft.store.SnapshotStore.vacuum(s, t, keep = 2)
      require(dropped == Seq(1L),
        s"dt_tag_read expects vacuum to drop exactly the untagged v1, got $dropped")
    }
    def summary(df: org.apache.spark.sql.DataFrame, label: String) =
      df.agg(
        count(lit(1)).alias("n_rows"),
        sum(round(col("c_acctbal") * 100).cast("long")).alias("bal_cents"))
        .select(lit(label).alias("state"), col("n_rows"), col("bal_cents"))
    summary(
      s.read.format("graft-snapshot").option("path", table)
        .option("version", "golden").load(), "golden")
      .unionAll(summary(
        s.read.format("graft-snapshot").option("path", table).load(), "head"))
      .orderBy(col("state"))
  }

  /** DT23: MERGE-ON-READ MERGE (`SupportsDelta` / `WriteDelta`,
    * `spark.graft.rowlevel.mode=merge-on-read`) — the SAME three-clause
    * merge as `dt_merge_sql`, but committed as ONE O(delta) version: a
    * scoped deletion vector (deleted + updated keys) plus fresh files
    * (inserted + updated rows); no touched-file rewrite. SHARES
    * `dt_merge_into`'s oracle: both execution modes must produce the
    * byte-identical merged customer table. */
  val dtMergeMor: Q = (s, d) => {
    val wh = Fixtures.dir("mergemor", d) { root =>
      val cat = snapCatalog(s, root)
      val t = s"$root/facts/customer"
      graft.store.SnapshotStore.commit(Tables.customer(s, d), t)
      mergeSource(s, d).createOrReplaceTempView("graft_merge_mor_src")
      s.conf.set("spark.graft.rowlevel.mode", "merge-on-read")
      s.conf.set("spark.graft.rowlevel.keys", "c_custkey")
      try
        s.sql(
          s"""MERGE INTO $cat.facts.customer t USING graft_merge_mor_src src
              ON t.c_custkey = src.c_custkey
              WHEN MATCHED AND src.delta_cents > 80000000 THEN DELETE
              WHEN MATCHED THEN UPDATE SET
                c_acctbal = (CAST(round(t.c_acctbal * 100) AS BIGINT) + src.delta_cents) / 100.0
              WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
                VALUES (src.c_custkey, concat('new-', CAST(src.c_custkey AS STRING)),
                        CAST(-1 AS INT), src.delta_cents / 100.0, 'NEW')""")
      finally {
        s.conf.unset("spark.graft.rowlevel.mode")
        s.conf.unset("spark.graft.rowlevel.keys")
      }
      val v = graft.store.SnapshotStore.currentVersion(s, t).get
      val m = graft.store.SnapshotStore.manifest(s, t, v)
      require(m.op == "merge-mor",
        s"dt_merge_mor must execute merge-on-read, got op=${m.op}")
    }
    val cat = snapCatalog(s, wh)
    s.sql(s"""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
              FROM $cat.facts.customer ORDER BY c_custkey""")
  }

  /** DT11: SQL `MERGE INTO` over a catalog table — the same three-clause
    * semantics as `dt_merge_into` (delete big spenders, update balances,
    * insert shifted keys), but issued as the ANSI statement and executed
    * as a group-based copy-on-write row-level operation (only files with
    * a matching row rewrite; see SnapshotRowLevelSpec for the file-level
    * pins). SHARES dt_merge_into's oracle: both paths must produce the
    * byte-identical merged customer table. */
  val dtMergeSql: Q = (s, d) => {
    val wh = Fixtures.dir("mergesql", d) { root =>
      val cat = snapCatalog(s, root)
      graft.store.SnapshotStore.commit(Tables.customer(s, d), s"$root/facts/customer")
      mergeSource(s, d).createOrReplaceTempView("graft_merge_sql_src")
      s.sql(
        s"""MERGE INTO $cat.facts.customer t USING graft_merge_sql_src src
            ON t.c_custkey = src.c_custkey
            WHEN MATCHED AND src.delta_cents > 80000000 THEN DELETE
            WHEN MATCHED THEN UPDATE SET
              c_acctbal = (CAST(round(t.c_acctbal * 100) AS BIGINT) + src.delta_cents) / 100.0
            WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
              VALUES (src.c_custkey, concat('new-', CAST(src.c_custkey AS STRING)),
                      CAST(-1 AS INT), src.delta_cents / 100.0, 'NEW')""")
    }
    val cat = snapCatalog(s, wh)
    s.sql(s"""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
              FROM $cat.facts.customer ORDER BY c_custkey""")
  }

  /** DT44: ROW-GRANULAR CHANGE FEED for copy-on-write MERGE (round 16):
    * the merge commit persists exactly the rows that changed (pre-images
    * under `_rowchanges/<tok>/removes`, post-images under `/inserts`),
    * and the feed streams THOSE — O(changed rows) — instead of replaying
    * every touched file both ways (the keys are hash-scattered so the
    * 1%-of-keys merge touches EVERY file; the fixture pins that the feed
    * emits a small fraction of the table, which the file-granular replay
    * could not). The query REPLAYS the feed onto the v0 image (state −
    * removes + inserts) and aggregates the reconstructed mirror; the
    * oracle replays the merge algebra over plain parquet — mirror ≡
    * merged table, hash-exact. */
  val dtCdfRowlevel: Q = (s, d) => {
    val wh = Fixtures.dir("cdfrow", d) { root =>
      val cat = snapCatalog(s, root)
      val t = s"$root/facts/customer"
      val files = s.sparkContext.defaultParallelism.max(4)
      graft.store.SnapshotStore.commit(
        Tables.customer(s, d).repartition(files), t) // v0
      val touched = Tables.customer(s, d)
        .filter(pmod(col("c_custkey"), lit(100)) === 7)
        .select(col("c_custkey"))
      touched.unionAll(touched.select(col("c_custkey") + 9000000))
        .createOrReplaceTempView("graft_cdf_src")
      s.sql(
        s"""MERGE INTO $cat.facts.customer t USING graft_cdf_src src
            ON t.c_custkey = src.c_custkey
            WHEN MATCHED AND t.c_acctbal < 0 THEN DELETE
            WHEN MATCHED THEN UPDATE SET c_acctbal = t.c_acctbal + 100.0
            WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
              VALUES (src.c_custkey, 'new', CAST(-1 AS INT), 0.0, 'NEW')""")
      val m = graft.store.SnapshotStore.manifest(s, t, 1L)
      require(m.op == "merge" && m.rowChanges.nonEmpty,
        "dt_cdf_rowlevel: the CoW merge must publish a row-changes sidecar")
      val feedCnt = s.read.format("graft-snapshot").option("path", t)
        .option("changeFeed", "true").option("startingVersion", "1").load().count()
      val total = graft.store.SnapshotStore.read(s, t).count()
      require(feedCnt < total / 2,
        s"dt_cdf_rowlevel: the feed must be O(changed rows) — got $feedCnt " +
          s"change rows for a $total-row table whose every file the merge touched")
    }
    val t = s"$wh/facts/customer"
    val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .map(col)
    val feed = s.read.format("graft-snapshot").option("path", t)
      .option("changeFeed", "true").option("startingVersion", "1").load()
    val removes = feed.filter(col("_change_type") === "remove").select(cols: _*)
    val inserts = feed.filter(col("_change_type") === "insert").select(cols: _*)
    graft.store.SnapshotStore.readVersion(s, t, 0L).select(cols: _*)
      .exceptAll(removes).unionAll(inserts) // the documented consumer algebra
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).alias("n_rows"),
        sum(round(col("c_acctbal") * 100).cast("long")).alias("bal_cents"))
      .orderBy(col("c_mktsegment"))
  }

  /** DT12: `CREATE TABLE ... AS SELECT` through the snapshot catalog —
    * the summary mart is born as version 0 in ONE atomic staged commit,
    * then answered from the new table. Oracle recomputes the aggregate
    * from raw orders: the CTAS result must equal its defining query. */
  val dtCtas: Q = (s, d) => {
    val wh = Fixtures.dir("ctaswh", d) { root =>
      val cat = snapCatalog(s, root)
      graft.store.SnapshotStore.commit(Tables.orders(s, d), s"$root/facts/orders")
      s.sql(
        s"""CREATE TABLE $cat.marts.prio_summary AS
            SELECT o_orderpriority,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM $cat.facts.orders
            GROUP BY o_orderpriority""")
    }
    val cat = snapCatalog(s, wh)
    s.sql(s"SELECT * FROM $cat.marts.prio_summary ORDER BY o_orderpriority")
  }

  /** DT26: PARTITION TRANSFORMS on snapshot tables — `CREATE TABLE ...
    * PARTITIONED BY (months(o_orderdate)) AS SELECT` routes rows into
    * hive-style month directories; the DSv2 scan then prunes whole
    * partitions from the pushed timestamp predicate BEFORE any stats
    * sidecar or footer is consulted (the fixture pins both counters).
    * The 100 TB shape: a retention/recency query over a day- or
    * month-appended fact plans over O(matching partitions), not
    * O(table), with pure path arithmetic. Oracle replays the range
    * aggregate over plain parquet. */
  val dtPartitionPrune: Q = (s, d) => {
    val wh = Fixtures.dir("partwh", d) { root =>
      val cat = snapCatalog(s, root)
      Tables.orders(s, d).createOrReplaceTempView("graft_part_src")
      s.sql(
        s"""CREATE TABLE $cat.facts.orders PARTITIONED BY (months(o_orderdate))
            AS SELECT * FROM graft_part_src""")
      val t = s"$root/facts/orders"
      val m = graft.store.SnapshotStore.manifest(s, t, 0L)
      require(m.partSpec.nonEmpty && m.files.forall(_.contains("/__gp0=")),
        s"dt_partition_prune: CTAS must route files into partition dirs (got " +
          s"${m.files.take(2)})")
      // pruning pin: a month-range predicate must drop files from PATHS
      // alone — partition counter moves, footer counter does not
      val footers0 = graft.sources.SnapshotScanProbe.plannerFooterReads
      val q = s.read.format("graft-snapshot").option("path", t).load()
        .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1999-01-01 00:00:00")))
        .agg(count(lit(1)))
      q.collect()
      require(graft.sources.SnapshotScanProbe.scans(q).exists(_.partitionPrunedFiles > 0),
        "dt_partition_prune: the month-range predicate must prune partition dirs")
      require(graft.sources.SnapshotScanProbe.plannerFooterReads == footers0,
        "dt_partition_prune: partition pruning must not open data-file footers")
    }
    val cat = snapCatalog(s, wh)
    s.sql(
      s"""SELECT date_format(o_orderdate, 'yyyy-MM') AS month,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM $cat.facts.orders
          WHERE o_orderdate >= TIMESTAMP'1999-01-01 00:00:00'
          GROUP BY 1 ORDER BY 1""")
  }

  /** DT39: COLUMN DEFAULT VALUES — `CREATE TABLE (... status STRING
    * DEFAULT 'pending')`: Spark encodes the default into the schema's
    * field metadata, the pinned `schemajson=` persists it, and the
    * analyzer fills omitted INSERT columns — rows land physically
    * complete, so reads need no default logic (and ADD COLUMN ...
    * DEFAULT stays refused: it would need an exists-default read path
    * this store does not promise). Oracle reconstructs the two insert
    * waves from raw orders. */
  val dtColumnDefault: Q = (s, d) => {
    val wh = Fixtures.dir("coldef", d) { root =>
      val cat = snapCatalog(s, root)
      Tables.orders(s, d).createOrReplaceTempView("graft_coldef_src")
      s.sql(
        s"""CREATE TABLE $cat.facts.tagged (
              o_orderkey BIGINT,
              status STRING DEFAULT 'pending')""")
      s.sql(
        s"""INSERT INTO $cat.facts.tagged (o_orderkey)
            SELECT o_orderkey FROM graft_coldef_src WHERE o_orderkey % 10 = 0""")
      s.sql(
        s"""INSERT INTO $cat.facts.tagged
            SELECT o_orderkey, 'manual' FROM graft_coldef_src WHERE o_orderkey % 10 = 5""")
    }
    val cat = snapCatalog(s, wh)
    s.sql(
      s"""SELECT status, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(o_orderkey) AS BIGINT) AS keysum
          FROM $cat.facts.tagged GROUP BY status ORDER BY status""")
  }

  /** DT38: NULL-AWARE + TEMPORAL AGGREGATE PUSHDOWN — `COUNT(col)`
    * folds from metadata as rows − proven nulls (stats-sidecar
    * noNulls/allNull group lines, or the NDV sidecar's EXACT per-file
    * null counts when groups mix), and MIN/MAX over DATE/TIMESTAMP
    * answer typed from the epoch-domain stats. The fixture pins the
    * metadata plan (description names count(opt_key) and
    * min(o_orderdate)) and zero footer opens across planning and
    * execution, counted from before the plan is built (the pushdown
    * reads statistics while planning); oracle replays over raw orders
    * with the same derived nullable column. */
  val dtAggNullaware: Q = (s, d) => {
    val wh = Fixtures.dir("aggnull", d) { root =>
      val t = s"$root/facts/orders"
      val src = Tables.orders(s, d).withColumn("opt_key",
        when(pmod(col("o_orderkey"), lit(7)) === 0, lit(null).cast("bigint"))
          .otherwise(col("o_orderkey")))
      graft.store.SnapshotStore.commit(src, t)
      // mixed-null row groups: the stats sidecar alone can't prove the
      // null count — the NDV sidecar's exact per-file counts must
      graft.ops.NdvStats.analyzeCommit(s, t, Seq("opt_key"))
      val read = s.read.format("graft-snapshot").option("path", t).load()
      val q = read.agg(count(col("opt_key")), min("o_orderdate"), max("o_orderdate"))
      // planning runs the aggregate pushdown, so the count starts first
      val footers0 = graft.sources.SnapshotScanProbe.plannerFooterReads
      val desc = graft.sources.SnapshotScanProbe.scans(q).map(_.description).mkString("; ")
      require(desc.contains("count(opt_key)") && desc.contains("min(o_orderdate)"),
        s"dt_agg_nullaware: count(col)+temporal min/max must plan metadata-only, got: $desc")
      q.collect()
      require(graft.sources.SnapshotScanProbe.plannerFooterReads == footers0,
        "dt_agg_nullaware: the metadata aggregate must not open data-file footers")
    }
    s.read.format("graft-snapshot").option("path", s"$wh/facts/orders").load()
      .agg(count(lit(1)).as("n"),
        count(col("opt_key")).as("n_opt"),
        min("o_orderdate").as("lo_ts"),
        max("o_orderdate").as("hi_ts"))
      .select(col("n"), col("n_opt"),
        date_format(col("lo_ts"), "yyyy-MM-dd").as("lo_day"),
        date_format(col("hi_ts"), "yyyy-MM-dd").as("hi_day"))
  }

  /** DT37: CHECK CONSTRAINTS — ANSI `ALTER TABLE ... ADD CONSTRAINT c
    * CHECK (...)` on snapshot tables: Spark's own CheckInvariant
    * enforces SQL writes per-row, the engine write APIs enforce in one
    * O(delta) pass, and — the 100 TB payoff — a pushed filter that
    * provably CONTRADICTS a constraint empties the scan before any
    * file, sidecar, or footer is touched (the fixture pins the
    * constraint-pruned counter and zero footer opens). Oracle replays
    * both branches over raw orders. */
  val dtCheckPrune: Q = (s, d) => {
    val wh = Fixtures.dir("checkwh", d) { root =>
      val cat = snapCatalog(s, root)
      graft.store.SnapshotStore.commit(Tables.orders(s, d), s"$root/facts/orders")
      s.sql(s"ALTER TABLE $cat.facts.orders ADD CONSTRAINT price_pos CHECK (o_totalprice >= 0)")
      val read = s.read.format("graft-snapshot").option("path", s"$root/facts/orders").load()
      val f0 = graft.sources.SnapshotScanProbe.plannerFooterReads
      val q = read.filter(col("o_totalprice") < 0).agg(count(lit(1)))
      require(q.collect()(0).getLong(0) == 0L,
        "dt_check_prune: the constraint guarantees no negative prices")
      require(graft.sources.SnapshotScanProbe.scans(q).exists(_.constraintPrunedFiles > 0),
        "dt_check_prune: the contradicting filter must empty the scan from the constraint alone")
      require(graft.sources.SnapshotScanProbe.plannerFooterReads == f0,
        "dt_check_prune: constraint pruning must not open data-file footers")
    }
    val read = s.read.format("graft-snapshot").option("path", s"$wh/facts/orders").load()
    val neg = read.filter(col("o_totalprice") < 0)
      .agg(count(lit(1)).as("n_rows")).select(lit("neg").as("k"), col("n_rows"))
    val hi = read.filter(col("o_totalprice") >= 100000.0)
      .agg(count(lit(1)).as("n_rows")).select(lit("hi").as("k"), col("n_rows"))
    neg.unionAll(hi).orderBy("k")
  }

  /** DT36: PERSISTED CATALOG VIEWS — `CREATE VIEW cat.ns.v AS SELECT`
    * writes ONE atomic metadata file under the warehouse (the DSv2
    * ViewCatalog SPI + the graft parser/resolution extensions that
    * supply Spark 4.1.2's missing execution half); a SECOND catalog
    * instance over the same warehouse — a fresh session's world —
    * resolves the view by name with no re-registration. The
    * engine-durable analog of the reference's Athena view layer
    * (`scripts/sql/create_views.sql`). Oracle replays the view's
    * defining SQL over raw orders. */
  val dtViewCatalog: Q = (s, d) => {
    val wh = Fixtures.dir("viewcat", d) { root =>
      val cat = snapCatalog(s, root)
      graft.store.SnapshotStore.commit(Tables.orders(s, d), s"$root/facts/orders")
      s.sql(
        s"""CREATE VIEW $cat.facts.prio_rollup AS
            SELECT o_orderpriority,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM $cat.facts.orders
            GROUP BY o_orderpriority""")
      // durability pin: listing + resolution must come from the FILES,
      // not a session registry
      val names = s.sql(s"SHOW VIEWS IN $cat.facts").collect().map(_.getString(1)).toSeq
      require(names == Seq("prio_rollup"),
        s"dt_view_catalog: SHOW VIEWS must list the persisted view, got $names")
    }
    // a DIFFERENT catalog name over the same warehouse — a fresh
    // catalog instance with no shared registry, only the persisted
    // metadata file
    val cat2 = "gvc2_" + java.security.MessageDigest.getInstance("MD5")
      .digest(wh.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    s.conf.set(s"spark.sql.catalog.$cat2", classOf[graft.sources.SnapshotCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat2.warehouse", wh)
    s.sql(s"SELECT * FROM $cat2.facts.prio_rollup ORDER BY o_orderpriority")
  }

  /** DT35: GROUP BY AGGREGATE PUSHDOWN over identity partitions — the
    * dashboard rollup (`GROUP BY l_linenumber` with COUNT/MIN/MAX)
    * answers from partition DIRECTORY NAMES plus one stats-sidecar
    * read: zero data pages, zero footer opens, O(files) driver
    * arithmetic. At 100 TB this is the difference between a rollup
    * scanning the fact table and reading ~KBs of metadata. The fixture
    * pins the plan (FOOTER AGGREGATE description) and zero footer
    * opens, counted from before the plan is built (the pushdown reads
    * statistics while planning); anything unprovable (filters,
    * strings, unrouted files, DVs) declines to the ordinary
    * distributed plan — pinned by `GroupByPushdownSpec`. Oracle
    * replays the rollup over raw lineitem. */
  val dtGroupbyRollup: Q = (s, d) => {
    val wh = Fixtures.dir("gbroll", d) { root =>
      val t = s"$root/facts/lineitem"
      graft.store.SnapshotStore.partitionedCommit(Tables.lineitem(s, d), t,
        Seq(graft.store.PartitionSpec.PartField("identity", "l_linenumber")))
      val read = s.read.format("graft-snapshot").option("path", t).load()
      val q = read.groupBy("l_linenumber")
        .agg(count(lit(1)), min("l_quantity"), max("l_quantity"), max("l_orderkey"))
      // planning runs the aggregate pushdown, so the count starts first
      val footers0 = graft.sources.SnapshotScanProbe.plannerFooterReads
      val desc = graft.sources.SnapshotScanProbe.scans(q).map(_.description).mkString("; ")
      require(desc.contains("FOOTER AGGREGATE [group by l_linenumber"),
        s"dt_groupby_rollup: the rollup must plan metadata-only, got: $desc")
      q.collect()
      require(graft.sources.SnapshotScanProbe.plannerFooterReads == footers0,
        "dt_groupby_rollup: the grouped rollup must not open data-file footers")
    }
    s.read.format("graft-snapshot").option("path", s"$wh/facts/lineitem").load()
      .groupBy("l_linenumber")
      .agg(count(lit(1)).as("n"),
        round(min("l_quantity"), 2).as("min_qty"),
        round(max("l_quantity"), 2).as("max_qty"),
        max("l_orderkey").as("max_key"))
      .orderBy("l_linenumber")
  }

  /** DT27: PARTITION-ALIGNED RETENTION DELETE — on a month-partitioned
    * snapshot table, `DELETE WHERE o_orderdate < X` (X on a month
    * boundary) classifies every file all-match/none-match and commits
    * `op=delete-files`: a pure manifest edit, no job, no rewrite — the
    * retention shape at 100 TB. The fixture pins the op and that the
    * partition spec survives the edit; oracle replays the filter. */
  val dtPartitionDelete: Q = (s, d) => {
    val wh = Fixtures.dir("partdel", d) { root =>
      val t = s"$root/facts/orders"
      graft.store.SnapshotStore.partitionedCommit(Tables.orders(s, d), t,
        Seq(graft.store.PartitionSpec.PartField("months", "o_orderdate")))
      val cat = snapCatalog(s, root)
      s.sql(s"DELETE FROM $cat.facts.orders WHERE o_orderdate < TIMESTAMP'1997-01-01 00:00:00'")
      val m = graft.store.SnapshotStore.manifest(s, t, 1L)
      require(m.op == "delete-files",
        s"dt_partition_delete must classify metadata-only, got op=${m.op}")
      require(m.partSpec.nonEmpty,
        "dt_partition_delete: the partition spec must survive the manifest edit")
    }
    val cat = snapCatalog(s, wh)
    s.sql(
      s"""SELECT o_orderstatus,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM $cat.facts.orders
          GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  }

  /** DT28: WRITABLE BRANCHES / write-audit-publish — fork a branch at
    * the fact's head (`CALL system.create_branch`, O(1) metadata),
    * commit an append AND a deletion-vector delete against the BRANCH
    * path through the ordinary store surfaces, audit (main provably
    * unchanged), then `CALL system.fast_forward` publishes the branch
    * head onto main as ONE atomic manifest — zero data movement, the
    * every-lakehouse-team WAP flow. Oracle replays the append+delete
    * algebra over plain parquet. */
  val dtBranchWap: Q = (s, d) => {
    val wh = Fixtures.dir("branchwap", d) { root =>
      val t = s"$root/facts/orders"
      val orders = Tables.orders(s, d)
      graft.store.SnapshotStore.commit(orders, t)
      val cat = snapCatalog(s, root)
      val br = s.sql(s"CALL $cat.system.create_branch('facts.orders', 'wap')")
        .head().getString(0)
      graft.store.SnapshotStore.appendCommit(
        orders.filter(pmod(col("o_orderkey"), lit(10)) === 3)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L), br)
      graft.store.SnapshotStore.deleteCommit(s, br, Seq("o_orderkey"),
        pmod(col("o_orderkey"), lit(50)) === 7)
      // AUDIT: main must not have moved
      require(graft.store.SnapshotStore.currentVersion(s, t) == Some(0L),
        "dt_branch_wap: main moved before publish")
      val v = s.sql(s"CALL $cat.system.fast_forward('facts.orders', 'wap')")
        .head().getLong(0)
      require(v == 1L && graft.store.SnapshotStore.manifest(s, t, v).op == "publish",
        "dt_branch_wap: publish must fast-forward main by one version")
    }
    val cat = snapCatalog(s, wh)
    s.sql(
      s"""SELECT o_orderstatus,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM $cat.facts.orders
          GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  }

  /** DT43: MULTI-OP SINGLE-TABLE TRANSACTION
    * ([[graft.store.SnapshotStore.withTransaction]], round 16 — the
    * r15 verdict's top ask): a "restate + re-index + analyze" job
    * (row-level DELETE, append, NDV analyze) runs as ONE atomic main
    * commit. The ops apply to a private branch; a reader polling main
    * between them observes NOTHING (the fixture polls after every op),
    * and the single publish lands all three — delete vectors, restated
    * files, and the stats sidecar — at main version base+1. Oracle
    * replays the delete+append algebra over plain parquet. */
  val dtTxn: Q = (s, d) => {
    val wh = Fixtures.dir("txn", d) { root =>
      val t = s"$root/facts/orders"
      val orders = Tables.orders(s, d)
      graft.store.SnapshotStore.commit(orders, t)
      val restated = orders
        .filter(date_format(col("o_orderdate"), "yyyy-MM") === "1997-01")
        .withColumn("o_orderkey", col("o_orderkey") + 9000000L)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      def mainState(): (Option[Long], Long) =
        (graft.store.SnapshotStore.currentVersion(s, t),
          graft.store.SnapshotStore.read(s, t).count())
      val before = mainState()
      val (v, _) = graft.store.SnapshotStore.withTransaction(s, t) { br =>
        graft.store.SnapshotStore.deleteCommit(s, br, Seq("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM") === "1997-01")
        require(mainState() == before, "dt_txn: the delete leaked to main readers")
        graft.store.SnapshotStore.appendCommit(restated, br)
        require(mainState() == before, "dt_txn: the append leaked to main readers")
        graft.ops.NdvStats.analyzeCommit(s, br, Seq("o_custkey"))
        require(mainState() == before, "dt_txn: the analyze leaked to main readers")
      }
      require(v == 1L, s"dt_txn: the whole transaction must be ONE main commit, got v$v")
      val m = graft.store.SnapshotStore.manifest(s, t, v)
      require(m.op == "publish" && m.provenance.startsWith("branch:txn_"),
        "dt_txn: the publish must carry the transaction's branch provenance")
      require(m.ndvFile.nonEmpty, "dt_txn: the analyze must publish with the transaction")
    }
    val cat = snapCatalog(s, wh)
    s.sql(
      s"""SELECT date_format(o_orderdate, 'yyyy-MM') AS month,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM $cat.facts.orders
          GROUP BY 1 ORDER BY 1""")
  }

  /** DT29: NDV COLUMN STATISTICS → CBO — `CALL system.analyze` runs one
    * distributed pass aggregating a mergeable HLL sketch (+ exact null
    * count) per (file, column), published as a manifest surface; the
    * DSv2 scan then reports distinctCount/nullCount/min/max through V2
    * Statistics and Spark's CBO join estimation lands within 10% of
    * the true join cardinality (the fixture pins it — the rowCount-only
    * estimate is the full product, orders of magnitude off). Join
    * ordering over snapshot tables stops guessing. Oracle replays the
    * join exactly. */
  val dtNdvCbo: Q = (s, d) => {
    val wh = Fixtures.dir("ndvcbo", d) { root =>
      val orders = Tables.orders(s, d)
      graft.store.SnapshotStore.commit(
        orders.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        s"$root/facts/orders")
      graft.store.SnapshotStore.commit(
        orders.select(col("o_custkey")).distinct()
          .withColumn("segment", pmod(col("o_custkey"), lit(7))),
        s"$root/dims/cust")
      val cat = snapCatalog(s, root)
      s.sql(s"CALL $cat.system.analyze('facts.orders', 'o_custkey')")
      s.sql(s"CALL $cat.system.analyze('dims.cust', 'o_custkey')")
      // CBO pin: the analyzed tables give the join a cardinality
      // estimate within 10% of truth
      s.conf.set("spark.sql.cbo.enabled", "true")
      try {
        val j = s.sql(
          s"""SELECT f.o_custkey FROM $cat.facts.orders f
              JOIN $cat.dims.cust c ON f.o_custkey = c.o_custkey""")
        val est = j.queryExecution.optimizedPlan.collectFirst {
          case jn: org.apache.spark.sql.catalyst.plans.logical.Join => jn.stats.rowCount
        }.flatten
        val truth = orders.count() // every fact row matches exactly one dim row
        require(est.exists(e => math.abs(e.toLong - truth).toDouble / truth < 0.10),
          s"dt_ndv_cbo: join estimate $est must land within 10% of $truth")
      } finally s.conf.unset("spark.sql.cbo.enabled")
    }
    val cat = snapCatalog(s, wh)
    s.sql(
      s"""SELECT c.segment,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(CAST(round(f.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM $cat.facts.orders f JOIN $cat.dims.cust c ON f.o_custkey = c.o_custkey
          GROUP BY c.segment ORDER BY c.segment""")
  }

  /** DT31: PARTITION SPEC EVOLUTION — `CALL system.evolve_partition_spec`
    * switches a months-partitioned fact to days in ONE metadata commit
    * (zero bytes move; Iceberg-style spec-per-file-generation): old
    * files keep their months directories, appends route into
    * generation-TAGGED day directories, and the scan prunes each file
    * under exactly the spec that wrote it — the fixture pins that a
    * date cut prunes provably-dead files from BOTH generations, counted
    * from the paths themselves. Oracle replays the append algebra over
    * plain parquet. */
  val dtPartitionEvolve: Q = (s, d) => {
    val wh = Fixtures.dir("partevolve", d) { root =>
      val t = s"$root/facts/orders"
      val orders = Tables.orders(s, d)
      graft.store.SnapshotStore.partitionedCommit(orders, t,
        Seq(graft.store.PartitionSpec.PartField("months", "o_orderdate")))
      val cat = snapCatalog(s, root)
      val v = s.sql(
        s"CALL $cat.system.evolve_partition_spec('facts.orders', 'days:o_orderdate')")
        .head().getLong(0)
      require(v == 1L, "dt_partition_evolve: evolution must be one metadata commit")
      // the appended batch routes ~1 file per DAY directory: cap it to
      // one quarter STRADDLING the 1997-01-01 prune cut (round-15 —
      // the full 7-year range wrote ~2.4k day dirs and charged ~36s of
      // pure fixture FS work to the bench). Both sides of the cut stay
      // populated, so the both-generation pruning pins keep their force.
      graft.store.SnapshotStore.appendCommit(
        orders.filter(pmod(col("o_orderkey"), lit(4)) === 1)
          .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-12-01 00:00:00")) &&
            col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1997-03-01 00:00:00")))
          .withColumn("o_orderkey", col("o_orderkey") + 20000000L), t)
      val m = graft.store.SnapshotStore.manifest(s, t,
        graft.store.SnapshotStore.currentVersion(s, t).get)
      require(m.partGen == 1 && m.partHist.nonEmpty,
        "dt_partition_evolve: the manifest must carry both spec generations")
      def dirVal(f: String, pre: String): Option[String] =
        f.split('/').find(_.startsWith(pre)).map(_.stripPrefix(pre))
      val expectPruned = m.files.count(f =>
        dirVal(f, "__gp0=").exists(_ < "1997-01") ||
          dirVal(f, "__g1p0=").exists(_ < "1997-01-01"))
      require(m.files.exists(f => dirVal(f, "__gp0=").exists(_ < "1997-01")) &&
        m.files.exists(f => dirVal(f, "__g1p0=").exists(_ < "1997-01-01")),
        "dt_partition_evolve: both generations must hold prunable files")
      val q = s.read.format("graft-snapshot").option("path", t).load()
        .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
        .agg(count(lit(1)))
      q.collect()
      val pruned = graft.sources.SnapshotScanProbe.scans(q).map(_.partitionPrunedFiles)
      require(pruned == Seq(expectPruned),
        s"dt_partition_evolve: every dead file of EVERY generation must prune " +
          s"(got $pruned, want $expectPruned)")
    }
    val cat = snapCatalog(s, wh)
    s.sql(
      s"""SELECT date_format(o_orderdate, 'yyyy-MM') AS month,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(o_orderkey) AS BIGINT) AS key_sum
          FROM $cat.facts.orders
          WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          GROUP BY 1 ORDER BY 1""")
  }

  /** DT36: partition-scoped dynamic `INSERT OVERWRITE` — with
    * `partitionOverwriteMode=dynamic` (the session default), restating
    * one month of a months-partitioned fact replaces EXACTLY that
    * partition in one manifest commit
    * ([[graft.store.SnapshotStore.dynamicOverwriteCommit]]): untouched
    * partitions keep their files identically (path-pinned below — a
    * truncate or rewrite would produce fresh names), the restated
    * month's rows land routed. The classic restatement workflow the
    * reference runs as a Glue re-load of one day's partition. Oracle
    * replays the restatement algebra over plain parquet. */
  val dtDynamicOverwrite: Q = (s, d) => {
    val wh = Fixtures.dir("dynoverwrite", d) { root =>
      val t = s"$root/facts/orders"
      val orders = Tables.orders(s, d)
      graft.store.SnapshotStore.partitionedCommit(orders, t,
        Seq(graft.store.PartitionSpec.PartField("months", "o_orderdate")))
      val m0 = graft.store.SnapshotStore.manifest(s, t, 0L)
      def monthOf(f: String): Option[String] =
        f.split('/').find(_.startsWith("__gp0=")).map(_.stripPrefix("__gp0="))
      val untouched0 = m0.files.filter(f => !monthOf(f).contains("1997-01")).toSet
      require(untouched0.nonEmpty && untouched0.size < m0.files.size,
        "dt_dynamic_overwrite: fixture needs touched AND untouched partitions")
      val cat = snapCatalog(s, root)
      orders.filter(date_format(col("o_orderdate"), "yyyy-MM") === "1997-01")
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .createOrReplaceTempView("dynovr_src")
      s.sql(s"INSERT OVERWRITE $cat.facts.orders SELECT * FROM dynovr_src")
      val m1 = graft.store.SnapshotStore.manifest(s, t, 1L)
      require(m1.op == "dynamic-overwrite",
        "dt_dynamic_overwrite: the restatement must be one partition-scoped commit")
      require(m1.files.filter(f => !monthOf(f).contains("1997-01")).toSet == untouched0,
        "dt_dynamic_overwrite: untouched partitions must keep their exact files")
      require(m0.files.filter(f => monthOf(f).contains("1997-01"))
        .forall(f => !m1.files.contains(f)),
        "dt_dynamic_overwrite: the restated month's old files must all be replaced")
    }
    val cat = snapCatalog(s, wh)
    s.sql(
      s"""SELECT date_format(o_orderdate, 'yyyy-MM') AS month,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM $cat.facts.orders
          GROUP BY 1 ORDER BY 1""")
  }

  /** DT48: WRITE DISTRIBUTION MODES
    * (`spark.graft.write.distribution` — [[graft.sources
    * .BucketDistribution]], round 16): an adversarially-partitioned
    * INSERT INTO a month-partitioned table (every input task holds
    * rows of every month — the restatement/backfill shape) under
    * `hash` mode clusters the shuffle by the partition source column
    * with a size advisory, so AQE's rebalance + the local sort land
    * ~one right-sized file per partition instead of #tasks ×
    * #partitions small files. The fixture PINS the physical claim (a
    * 16-task input may add at most 2 files per month; unrouted it
    * would add 16) and the oracle pins the data: the mode only moves
    * rows between write tasks. */
  val dtWriteDistribution: Q = (s, d) => {
    val wh = Fixtures.dir("wdist", d) { root =>
      val t = s"$root/facts/orders"
      val orders = Tables.orders(s, d)
      graft.store.SnapshotStore.partitionedCommit(orders.limit(0), t,
        Seq(graft.store.PartitionSpec.PartField("months", "o_orderdate")))
      val cat = snapCatalog(s, root)
      orders.repartition(16).createOrReplaceTempView("wdist_src")
      s.conf.set("spark.graft.write.distribution", "hash")
      // pinned advisory so the file-count claim below holds at every sf
      s.conf.set("spark.graft.write.targetFileSizeBytes", (1L << 30).toString)
      try s.sql(s"INSERT INTO $cat.facts.orders SELECT * FROM wdist_src")
      finally {
        s.conf.unset("spark.graft.write.distribution")
        s.conf.unset("spark.graft.write.targetFileSizeBytes")
      }
      val prev = graft.store.SnapshotStore.dataFiles(
        s, graft.store.SnapshotStore.manifest(s, t, 0L)).toSet
      val added = graft.store.SnapshotStore.dataFiles(
        s, graft.store.SnapshotStore.manifest(s, t, 1L)).filterNot(prev)
      val months = added.flatMap(_.split('/').find(_.startsWith("__gp0="))).distinct
      require(months.size > 12,
        s"dt_write_distribution: fixture needs many month partitions, got ${months.size}")
      require(added.size <= 2 * months.size,
        s"dt_write_distribution: hash mode must land ~one file per month " +
          s"(16 unrouted tasks would add ${16 * months.size}); got ${added.size}")
    }
    val cat = snapCatalog(s, wh)
    s.sql(
      s"""SELECT date_format(o_orderdate, 'yyyy-MM') AS month,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM $cat.facts.orders
          GROUP BY 1 ORDER BY 1""")
  }

  /** DT37: `ALTER TABLE ... ADD COLUMN ... DEFAULT` with
    * EXISTS-DEFAULT reads — a metadata-only add (zero rewrite): files
    * written BEFORE the ALTER lack the columns physically and their
    * rows report the frozen defaults; an INSERT after it lands
    * physically complete (explicit NULLs stay null). The top-5
    * lakehouse backfill workflow. Oracle replays the two generations
    * over plain parquet. */
  val dtAddColumnDefault: Q = (s, d) => {
    val wh = Fixtures.dir("addcoldef", d) { root =>
      val t = s"$root/facts/orders"
      val orders = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      graft.store.SnapshotStore.commit(orders, t) // gen A: no channel/fee
      val cat = snapCatalog(s, root)
      s.sql(s"ALTER TABLE $cat.facts.orders ADD COLUMNS " +
        "(channel STRING DEFAULT 'store', fee DOUBLE DEFAULT 0.25)")
      orders.createOrReplaceTempView("acd_src")
      s.sql(
        s"""INSERT INTO $cat.facts.orders
            SELECT o_orderkey + 9000000, o_custkey, o_totalprice,
                   CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE 'web' END, 1.5
            FROM acd_src""")
    }
    val cat = snapCatalog(s, wh)
    s.sql(
      s"""SELECT coalesce(channel, '<null>') AS channel,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(CAST(round(fee * 100) AS BIGINT)) AS BIGINT) AS fee_cents,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM $cat.facts.orders
          GROUP BY 1 ORDER BY 1""")
  }

  /** DT38: `$detail` metadata table + SHOW CREATE TABLE — the
    * introspection surface over a snapshot table's manifest state
    * (layout, constraints, defaults, evolution, sidecar coverage) in
    * one metadata row, zero data IO. Only the DETERMINISTIC fields are
    * projected (location/timestamps/bytes vary per run), so the oracle
    * states them as expected constants — with total_rows independently
    * derived from the source table. */
  val dtDescribeDetail: Q = (s, d) => {
    val wh = Fixtures.dir("descdetail", d) { root =>
      val t = s"$root/facts/orders"
      graft.store.SnapshotStore.partitionedCommit(
        Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"),
        t, Seq(graft.store.PartitionSpec.PartField("months", "o_orderdate")))
      val cat = snapCatalog(s, root)
      s.sql(s"ALTER TABLE $cat.facts.orders ADD CONSTRAINT price_pos CHECK (o_totalprice >= 0)")
      s.sql(s"ALTER TABLE $cat.facts.orders ADD COLUMNS (channel STRING DEFAULT 'store')")
      val ddl = s.sql(s"SHOW CREATE TABLE $cat.facts.orders").head().getString(0)
      require(ddl.toLowerCase.contains("partitioned by") && ddl.contains("months(o_orderdate)"),
        s"dt_describe_detail: SHOW CREATE TABLE must render the partition transform: $ddl")
    }
    val cat = snapCatalog(s, wh)
    val det = s.sql(
      s"""SELECT version, operation, n_delete_files, partition_spec,
                 spec_generation, n_spec_generations, constraints, column_defaults,
                 total_rows, stats_exact, has_stats_sidecar, schema_pinned
          FROM $cat.facts.`orders$$detail`""")
    require(det.count() == 1L, "dt_describe_detail: exactly one detail row")
    det
  }

  /** DT39: predicate-scoped atomic OVERWRITE
    * (`df.writeTo(t).overwrite(cond)` — REPLACE WHERE): one manifest
    * publishing keep(none-match files) ++ survivors(ambiguous files'
    * non-matching rows, re-routed) ++ the staged replacement. The
    * date-ranged restatement that is neither a truncate nor a
    * partition boundary: all-match files drop whole (zero reads),
    * none-match files keep their exact paths (pinned), only the
    * mid-month boundary files pay a rewrite. Oracle replays the
    * replacement algebra over plain parquet. */
  val dtReplaceWhere: Q = (s, d) => {
    val wh = Fixtures.dir("replwhere", d) { root =>
      val t = s"$root/facts/orders"
      val orders = Tables.orders(s, d)
      graft.store.SnapshotStore.partitionedCommit(orders, t,
        Seq(graft.store.PartitionSpec.PartField("months", "o_orderdate")))
      val m0 = graft.store.SnapshotStore.manifest(s, t, 0L)
      def monthOf(f: String): Option[String] =
        f.split('/').find(_.startsWith("__gp0=")).map(_.stripPrefix("__gp0="))
      val untouched = m0.files.filter(f => monthOf(f).exists(_ < "1997-03")).toSet
      require(untouched.nonEmpty, "dt_replace_where: fixture needs none-match files")
      val cat = snapCatalog(s, root)
      val cut = java.sql.Timestamp.valueOf("1997-03-15 00:00:00")
      orders.filter(col("o_orderdate") >= lit(cut))
        .withColumn("o_totalprice", col("o_totalprice") * 3)
        .writeTo(s"$cat.facts.orders").overwrite(col("o_orderdate") >= lit(cut))
      val m1 = graft.store.SnapshotStore.manifest(s, t, 1L)
      require(m1.op == "overwrite-where",
        "dt_replace_where: the restatement must be one predicate-scoped commit")
      require(untouched.subsetOf(m1.files.toSet),
        "dt_replace_where: none-match files must keep their exact paths")
      require(m0.files.filter(f => monthOf(f).exists(_ > "1997-03"))
        .forall(f => !m1.files.contains(f)),
        "dt_replace_where: all-match files must drop whole")
    }
    val cat = snapCatalog(s, wh)
    s.sql(
      s"""SELECT date_format(o_orderdate, 'yyyy-MM') AS month,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM $cat.facts.orders
          GROUP BY 1 ORDER BY 1""")
  }

  /** DT32: RENAME COLUMN via name mapping — `ALTER TABLE ... RENAME
    * COLUMN` is one metadata commit (zero data movement): files written
    * before keep the old physical name, an INSERT after it writes the
    * new one, and the scan binds each file generation through the
    * manifest's `rename=` mapping — including FILTERS on the renamed
    * column (old files' sidecar stats resolve through the alias).
    * Oracle replays the rename+append algebra over plain parquet,
    * hash-exact across both generations. */
  val dtRenameColumn: Q = (s, d) => {
    val wh = Fixtures.dir("renamecol", d) { root =>
      val t = s"$root/facts/orders"
      val orders = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      graft.store.SnapshotStore.commit(orders, t) // gen A: physical o_totalprice
      val cat = snapCatalog(s, root)
      s.sql(s"ALTER TABLE $cat.facts.orders RENAME COLUMN o_totalprice TO price")
      val m = graft.store.SnapshotStore.manifest(s, t, 1L)
      require(m.op == "rename-column" && m.renames.nonEmpty,
        "dt_rename_column: the rename must be one metadata commit")
      orders.createOrReplaceTempView("dtrn_src")
      s.sql(
        s"""INSERT INTO $cat.facts.orders
            SELECT o_orderkey + 9000000, o_custkey, o_totalprice FROM dtrn_src""")
    }
    val cat = snapCatalog(s, wh)
    s.sql(
      s"""SELECT pmod(o_custkey, 10) AS bucket,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM $cat.facts.orders
          WHERE price > 1000.0
          GROUP BY 1 ORDER BY 1""")
  }

  /** DT33: ALTER COLUMN TYPE widening via metadata-only commits —
    * `ALTER TABLE ... ALTER COLUMN o_custkey TYPE BIGINT` is one
    * manifest commit (`widen=` + the pinned logical schema): files
    * written before keep INT32 and every reader upcasts them natively
    * under the wide read schema; an INSERT after it writes INT64 —
    * filters and aggregates stay exact across both generations.
    * Oracle replays the widen+append algebra with explicit casts. */
  val dtWidenColumn: Q = (s, d) => {
    val wh = Fixtures.dir("widencol", d) { root =>
      val t = s"$root/facts/orders"
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"),
          col("o_custkey").cast("int").alias("o_custkey"),
          col("o_totalprice"))
      graft.store.SnapshotStore.commit(orders, t) // gen A: INT32 o_custkey
      val cat = snapCatalog(s, root)
      s.sql(s"ALTER TABLE $cat.facts.orders ALTER COLUMN o_custkey TYPE BIGINT")
      val m = graft.store.SnapshotStore.manifest(s, t, 1L)
      require(m.op == "widen-column" && m.widens.nonEmpty,
        "dt_widen_column: the widen must be one metadata commit")
      orders.createOrReplaceTempView("dtwc_src")
      s.sql(
        s"""INSERT INTO $cat.facts.orders
            SELECT o_orderkey + 9000000, CAST(o_custkey AS BIGINT) + 5000000000,
                   o_totalprice
            FROM dtwc_src""") // gen B: INT64, values past int range
    }
    val cat = snapCatalog(s, wh)
    s.sql(
      s"""SELECT CAST(pmod(o_custkey, 7) AS BIGINT) AS bucket,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
                 CAST(max(o_custkey) AS BIGINT) AS max_cust
          FROM $cat.facts.orders
          WHERE o_custkey > 10
          GROUP BY 1 ORDER BY 1""")
  }

  /** DT30: EQUI-HEIGHT HISTOGRAMS → CBO — `CALL system.analyze` also
    * aggregates a mergeable KLL quantile sketch per (file, column)
    * (native Catalyst `TypedImperativeAggregate`, the quantile analog
    * Spark ships no built-in for); plan time merges the kept files'
    * sketches, cuts equi-height bins, and surfaces them through V2
    * `ColumnStatistics.histogram` — Spark's FilterEstimation then
    * prices a range predicate on a SKEWED column from the bins instead
    * of min/max interpolation, which the fixture proves wrong by >2.5×
    * on a quartic-skew amount column. Near-uniform columns emit NO
    * bins by design (the exact-NDV join formula is already right
    * there). Oracle replays the filtered aggregate exactly. */
  val dtHistCbo: Q = (s, d) => {
    val cut = 8000000000000000L // ≈ top 5.4% of rows under the quartic skew
    val wh = Fixtures.dir("histcbo", d) { root =>
      val t = s"$root/facts/orders"
      // integer-exact quartic skew (v⁴ over v = hash(o_orderkey) in
      // [0, 9999]) so the DuckDB oracle replays it bit-for-bit — no
      // cross-engine pow()/rounding drift
      val base = Tables.orders(s, d)
        .withColumn("v", expr("pmod(o_orderkey * 2654435761, 100000) DIV 10"))
        .withColumn("skew_amt", col("v") * col("v") * col("v") * col("v"))
        .select(col("o_orderkey"), col("o_orderstatus"), col("skew_amt"))
      graft.store.SnapshotStore.commit(base, t)
      val cat = snapCatalog(s, root)
      s.sql(s"CALL $cat.system.analyze('facts.orders', 'skew_amt')")
      // CBO pin: the histogram prices the tail range within 2.5× of
      // truth where uniform min/max interpolation is >2.5× off
      s.conf.set("spark.sql.cbo.enabled", "true")
      try {
        val truth = base.filter(col("skew_amt") > cut).count()
        val Seq(mn, mx) = base.agg(min("skew_amt"), max("skew_amt"))
          .collect()(0).toSeq.map(_.asInstanceOf[Long])
        val uniform = base.count().toDouble * (mx - cut).toDouble / (mx - mn)
        require(uniform > 2.5 * truth,
          s"dt_hist_cbo fixture: skew precondition broke (uniform $uniform vs truth $truth)")
        val est = s.sql(
          s"SELECT o_orderkey FROM $cat.facts.orders WHERE skew_amt > $cut")
          .queryExecution.optimizedPlan.collectFirst {
            case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.stats.rowCount
          }.flatten
        require(est.exists(e => e.toDouble < truth * 2.5 && e.toDouble > truth / 2.5),
          s"dt_hist_cbo: histogram estimate $est must land within 2.5× of truth $truth " +
            s"(uniform interpolation says ${uniform.toLong})")
      } finally s.conf.unset("spark.sql.cbo.enabled")
    }
    val cat = snapCatalog(s, wh)
    s.sql(
      s"""SELECT o_orderstatus,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(o_orderkey) AS BIGINT) AS key_sum
          FROM $cat.facts.orders
          WHERE skew_amt > $cut
          GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  }

  private val oraclesBase: Map[String, String] = Map(
    "dt_widen_column" ->
      """WITH u AS (
           SELECT o_orderkey, CAST(o_custkey AS INTEGER) AS o_custkey_n, o_totalprice
           FROM orders),
         b AS (
           SELECT o_orderkey, CAST(o_custkey_n AS BIGINT) AS o_custkey, o_totalprice FROM u
           UNION ALL
           SELECT o_orderkey + 9000000, CAST(o_custkey_n AS BIGINT) + 5000000000,
                  o_totalprice
           FROM u)
         SELECT CAST(o_custkey % 7 AS BIGINT) AS bucket,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
                CAST(max(o_custkey) AS BIGINT) AS max_cust
         FROM b
         WHERE o_custkey > 10
         GROUP BY 1 ORDER BY 1""",
    "dt_rename_column" ->
      """WITH u AS (
           SELECT o_orderkey, o_custkey, o_totalprice AS price FROM orders
           UNION ALL
           SELECT o_orderkey + 9000000, o_custkey, o_totalprice FROM orders)
         SELECT o_custkey % 10 AS bucket,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM u
         WHERE price > 1000.0
         GROUP BY 1 ORDER BY 1""",
    "dt_partition_optimize" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders
         WHERE NOT (o_orderkey % 10 = 3 AND strftime(o_orderdate, '%Y-%m') = '1997-01')
         GROUP BY 1 ORDER BY 1""",
    "dt_mv_incremental" ->
      """WITH base AS (
           SELECT o_orderkey, o_orderpriority,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders
           UNION ALL
           SELECT o_orderkey + 9000000, o_orderpriority,
                  CAST(round(o_totalprice * 100) AS BIGINT) + 11
           FROM orders WHERE o_orderkey % 10 = 3),
         merged AS (
           SELECT o_orderkey, o_orderpriority,
                  CASE WHEN o_orderkey % 100 = 3 THEN cents + 500
                       ELSE cents END AS cents
           FROM base)
         SELECT o_orderpriority,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(cents) AS BIGINT) AS sum_cents,
                CAST(count(cents) AS BIGINT) AS cnt_cents,
                MIN(cents) AS min_cents,
                MAX(cents) AS max_cents
         FROM merged
         WHERE NOT (o_orderkey % 100 = 7)
         GROUP BY 1 ORDER BY 1""",
    "dt_mv_join" ->
      """WITH base AS (
           SELECT o_orderkey, o_custkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders
           UNION ALL
           SELECT o_orderkey + 9000000, o_custkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) + 11
           FROM orders WHERE o_orderkey % 10 = 3),
         merged AS (
           SELECT o_orderkey, o_custkey,
                  CASE WHEN o_orderkey % 100 = 3 THEN cents + 500
                       ELSE cents END AS cents
           FROM base)
         SELECT c.c_mktsegment,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(m.cents) AS BIGINT) AS sum_cents,
                CAST(count(m.cents) AS BIGINT) AS cnt_cents,
                MIN(m.cents) AS min_cents,
                MAX(m.cents) AS max_cents
         FROM merged m JOIN customer c ON m.o_custkey = c.c_custkey
         WHERE NOT (m.o_orderkey % 100 = 7)
         GROUP BY 1 ORDER BY 1""",
    "dt_cdf_rowlevel" ->
      """WITH merged AS (
           SELECT c_mktsegment,
                  CASE WHEN c_custkey % 100 = 7 THEN c_acctbal + 100.0
                       ELSE c_acctbal END AS bal
           FROM customer
           WHERE NOT (c_custkey % 100 = 7 AND c_acctbal < 0)
           UNION ALL
           SELECT 'NEW' AS c_mktsegment, 0.0 AS bal
           FROM customer WHERE c_custkey % 100 = 7)
         SELECT c_mktsegment,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(bal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
         FROM merged
         GROUP BY 1 ORDER BY 1""",
    "dt_txn" ->
      """WITH u AS (
           SELECT * FROM orders WHERE strftime(o_orderdate, '%Y-%m') <> '1997-01'
           UNION ALL
           SELECT o_orderkey + 9000000, o_custkey, o_orderstatus, o_totalprice * 2,
                  o_orderdate, o_orderpriority
           FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1997-01')
         SELECT strftime(o_orderdate, '%Y-%m') AS month,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM u
         GROUP BY 1 ORDER BY 1""",
    "dt_replace_where" ->
      """WITH u AS (
           SELECT * FROM orders
           WHERE o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
           UNION ALL
           SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 3,
                  o_orderdate, o_orderpriority
           FROM orders
           WHERE o_orderdate >= TIMESTAMP '1997-03-15 00:00:00')
         SELECT strftime(o_orderdate, '%Y-%m') AS month,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM u
         GROUP BY 1 ORDER BY 1""",
    "dt_describe_detail" ->
      """SELECT CAST(1 AS BIGINT) AS version,
                'append' AS operation,
                CAST(0 AS BIGINT) AS n_delete_files,
                'months:o_orderdate' AS partition_spec,
                CAST(0 AS BIGINT) AS spec_generation,
                CAST(1 AS BIGINT) AS n_spec_generations,
                'price_pos CHECK (o_totalprice >= 0)' AS constraints,
                'channel DEFAULT ''store''' AS column_defaults,
                (SELECT CAST(count(*) AS BIGINT) FROM orders) AS total_rows,
                TRUE AS stats_exact,
                TRUE AS has_stats_sidecar,
                TRUE AS schema_pinned""",
    "dt_add_column_default" ->
      """WITH u AS (
           SELECT o_orderkey, o_custkey, o_totalprice,
                  'store' AS channel, 0.25 AS fee
           FROM orders
           UNION ALL
           SELECT o_orderkey + 9000000, o_custkey, o_totalprice,
                  CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE 'web' END, 1.5
           FROM orders)
         SELECT coalesce(channel, '<null>') AS channel,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(fee * 100) AS BIGINT)) AS BIGINT) AS fee_cents,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM u
         GROUP BY 1 ORDER BY 1""",
    "dt_dynamic_overwrite" ->
      """WITH u AS (
           SELECT * FROM orders WHERE strftime(o_orderdate, '%Y-%m') <> '1997-01'
           UNION ALL
           SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2,
                  o_orderdate, o_orderpriority
           FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1997-01')
         SELECT strftime(o_orderdate, '%Y-%m') AS month,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM u
         GROUP BY 1 ORDER BY 1""",
    "dt_write_distribution" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders
         GROUP BY 1 ORDER BY 1""",
    "dt_partition_evolve" ->
      """WITH u AS (
           SELECT * FROM orders
           UNION ALL
           SELECT o_orderkey + 20000000, o_custkey, o_orderstatus, o_totalprice,
                  o_orderdate, o_orderpriority
           FROM orders WHERE o_orderkey % 4 = 1
             AND o_orderdate >= TIMESTAMP '1996-12-01 00:00:00'
             AND o_orderdate <  TIMESTAMP '1997-03-01 00:00:00')
         SELECT strftime(o_orderdate, '%Y-%m') AS month,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         FROM u
         WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY 1 ORDER BY 1""",
    "dt_hist_cbo" ->
      """WITH t AS (
           SELECT o_orderkey, o_orderstatus,
                  ((o_orderkey * 2654435761) % 100000) // 10 AS v
           FROM orders)
         SELECT o_orderstatus,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         FROM t
         WHERE v*v*v*v > 8000000000000000
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "dt_ndv_cbo" ->
      """SELECT o_custkey % 7 AS segment,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders
         GROUP BY 1 ORDER BY 1""",
    "dt_branch_wap" ->
      """WITH u AS (
           SELECT * FROM orders
           UNION ALL
           SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
                  o_orderdate, o_orderpriority
           FROM orders WHERE o_orderkey % 10 = 3)
         SELECT o_orderstatus,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM u
         WHERE o_orderkey % 50 <> 7
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "dt_partition_prune" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
         GROUP BY 1 ORDER BY 1""",
    "dt_column_default" ->
      """WITH src AS (
           SELECT o_orderkey, 'pending' AS status FROM orders WHERE o_orderkey % 10 = 0
           UNION ALL
           SELECT o_orderkey, 'manual' AS status FROM orders WHERE o_orderkey % 10 = 5)
         SELECT status, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(o_orderkey) AS BIGINT) AS keysum
         FROM src GROUP BY status ORDER BY status""",
    "dt_agg_nullaware" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(count(CASE WHEN o_orderkey % 7 <> 0 THEN o_orderkey END) AS BIGINT) AS n_opt,
                strftime(min(o_orderdate), '%Y-%m-%d') AS lo_day,
                strftime(max(o_orderdate), '%Y-%m-%d') AS hi_day
         FROM orders""",
    "dt_check_prune" ->
      """SELECT 'neg' AS k, CAST(count(*) AS BIGINT) AS n_rows FROM orders WHERE o_totalprice < 0
         UNION ALL
         SELECT 'hi' AS k, CAST(count(*) AS BIGINT) AS n_rows FROM orders WHERE o_totalprice >= 100000
         ORDER BY k""",
    "dt_view_catalog" ->
      """SELECT o_orderpriority,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "dt_groupby_rollup" ->
      """SELECT l_linenumber,
                CAST(count(*) AS BIGINT) AS n,
                round(min(l_quantity), 2) AS min_qty,
                round(max(l_quantity), 2) AS max_qty,
                CAST(max(l_orderkey) AS BIGINT) AS max_key
         FROM lineitem
         GROUP BY l_linenumber ORDER BY l_linenumber""",
    "dt_partition_delete" ->
      """SELECT o_orderstatus,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "c12_transitions" ->
      """WITH t AS (SELECT user_id, event_type AS from_type,
                           lead(event_type) OVER (PARTITION BY user_id
                             ORDER BY epoch_us(ts), event_id) AS to_type
                    FROM events),
              c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
                    FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, n,
                round(n / sum(n) OVER (PARTITION BY from_type), 4) AS p
         FROM c ORDER BY from_type, to_type""",
    "sk_skew_report" ->
      """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
                    FROM events GROUP BY 1),
              s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys, avg(n_rows) AS a FROM c)
         SELECT user_id, n_rows, round(n_rows / a, 4) AS skew_x, n_keys
         FROM c CROSS JOIN s
         ORDER BY n_rows DESC, user_id LIMIT 5""",
    "c8_funnel" ->
      """WITH v AS (SELECT user_id, min(epoch_us(ts)) AS v_us FROM events
                    WHERE event_type = 'view' GROUP BY 1),
              c AS (SELECT e.user_id, min(epoch_us(e.ts)) AS c_us
                    FROM events e JOIN v ON e.user_id = v.user_id
                    WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.v_us GROUP BY 1),
              p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS p_us
                    FROM events e JOIN c ON e.user_id = c.user_id
                    WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.c_us GROUP BY 1)
         SELECT (SELECT count(*) FROM v) AS users_view,
                (SELECT count(*) FROM c) AS users_click,
                (SELECT count(*) FROM p) AS users_purchase""",
    "c9_cohort" ->
      """WITH f AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
                    FROM events GROUP BY 1),
              j AS (SELECT f.cohort_week,
                           CAST(datediff('day', f.cohort_week,
                                  CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS INT) AS week_offset,
                           e.user_id
                    FROM events e JOIN f ON e.user_id = f.user_id)
         SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week, week_offset,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM j GROUP BY 1, 2 ORDER BY 1, 2""",
    "c10_anomaly" ->
      """WITH scored AS (
           SELECT event_id, user_id, value,
                  avg(value) OVER w AS m, stddev_samp(value) OVER w AS sd,
                  count(value) OVER w AS n
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                        ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
         SELECT event_id, user_id, value, round((value - m) / sd, 2) AS z
         FROM scored
         WHERE n >= 10 AND sd > 0 AND abs((value - m) / sd) > 1.5
         ORDER BY event_id""",
    "dt_cdc_apply" ->
      """SELECT user_id, event_id AS last_event_id, event_type AS last_type,
                value AS last_value
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC) AS rn FROM events)
         WHERE rn = 1 AND event_type <> 'error'
         ORDER BY user_id""",
    "dt_merge_into" ->
      """WITH src AS (
           SELECT CASE WHEN o_custkey % 7 = 0 THEN o_custkey + 1000000000000
                       ELSE o_custkey END AS c_custkey,
                  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS delta_cents
           FROM orders WHERE year(o_orderdate) = 1995
           GROUP BY 1)
         SELECT coalesce(t.c_custkey, s.c_custkey) AS c_custkey,
                CASE WHEN t.c_custkey IS NULL THEN concat('new-', s.c_custkey)
                     ELSE t.c_name END AS c_name,
                CASE WHEN t.c_custkey IS NULL THEN -1
                     ELSE t.c_nationkey END AS c_nationkey,
                CASE WHEN t.c_custkey IS NULL THEN s.delta_cents / 100.0
                     WHEN s.c_custkey IS NULL THEN t.c_acctbal
                     ELSE (CAST(round(t.c_acctbal * 100) AS BIGINT) + s.delta_cents) / 100.0
                END AS c_acctbal,
                CASE WHEN t.c_custkey IS NULL THEN 'NEW'
                     ELSE t.c_mktsegment END AS c_mktsegment
         FROM customer t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
         WHERE NOT (t.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL
                    AND s.delta_cents > 80000000)
         ORDER BY c_custkey""",
    "dt_append" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders
         GROUP BY 1
         ORDER BY yr""",
    "dt_delete_files" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders
         WHERE o_orderdate < DATE '1997-01-01'
         GROUP BY 1
         ORDER BY yr""",
    "dt_tag_read" ->
      """SELECT 'golden' AS state,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
         FROM customer
         UNION ALL
         SELECT 'head',
                CAST(count(*) AS BIGINT),
                CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         FROM customer WHERE c_custkey % 2 = 0
         ORDER BY state""",
    "dt_changes_batch" ->
      """SELECT 'insert' AS _change_type,
                CAST(year(o_orderdate) AS INT) AS yr,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders
         WHERE year(o_orderdate) >= 1996
         GROUP BY 2
         ORDER BY _change_type, yr""",
    "dt_small_compact" ->
      """SELECT o_orderstatus,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders
         GROUP BY o_orderstatus
         ORDER BY o_orderstatus""",
    "dt_ctas" ->
      """SELECT o_orderpriority,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",
    "dt_dv_append" ->
      """SELECT o_orderstatus,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders
         WHERE (o_orderkey % 50 <> 1) OR (o_orderkey % 200 = 1)
         GROUP BY o_orderstatus
         ORDER BY o_orderstatus""",
    "dt_call_optimize" ->
      """SELECT o_orderpriority,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",
    "dt_agg_pushdown" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
                round(min(o_totalprice), 2) AS min_price,
                round(max(o_totalprice), 2) AS max_price,
                CAST(max(o_orderkey) AS BIGINT) AS max_key
         FROM orders""",
    "dt_catalog_tt" ->
      """SELECT CAST(0 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
         FROM orders
         UNION ALL
         SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         FROM orders WHERE o_orderkey % 50 <> 2
         ORDER BY version""",
    "dt_sorted_join" ->
      """SELECT o.o_orderstatus,
                CAST(count(*) AS BIGINT) AS n_items,
                CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS ext_cents
         FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         GROUP BY o.o_orderstatus
         ORDER BY o.o_orderstatus""",
    "dt_spj_join" ->
      """SELECT o.o_orderpriority,
                CAST(count(*) AS BIGINT) AS n_items,
                CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
                CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         GROUP BY o.o_orderpriority
         ORDER BY o.o_orderpriority""",
    "dt_dsv2_scan" ->
      """SELECT o_orderpriority,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders
         WHERE o_totalprice > 300000.0 AND o_orderkey % 50 <> 1
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",
    "dt_runtime_prune" ->
      """SELECT c.c_name,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         WHERE c.c_name IN ('Customer#000000013', 'Customer#000000037', 'Customer#000000103')
         GROUP BY c.c_name
         ORDER BY c.c_name""",
    "dt_delete_vectors" ->
      """SELECT o_orderstatus,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
         FROM orders
         WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 5 = 0)
           AND NOT (o_orderkey % 7 = 3)
         GROUP BY o_orderstatus
         ORDER BY o_orderstatus""",
    "dt_incr_agg" ->
      """SELECT o_custkey,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
                min(CAST(round(o_totalprice * 100) AS BIGINT)) AS min_cents,
                max(CAST(round(o_totalprice * 100) AS BIGINT)) AS max_cents
         FROM orders
         GROUP BY o_custkey
         ORDER BY o_custkey""",
    "dt_restore" ->
      """SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
         FROM customer WHERE c_custkey % 100 = 0
         UNION ALL
         SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
                CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         FROM customer
         ORDER BY version""",
    "dt_time_travel" ->
      """WITH src AS (
           SELECT CASE WHEN o_custkey % 7 = 0 THEN o_custkey + 1000000000000
                       ELSE o_custkey END AS c_custkey,
                  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS delta_cents
           FROM orders WHERE year(o_orderdate) = 1995
           GROUP BY 1),
         v1 AS (
           SELECT CASE WHEN t.c_custkey IS NULL THEN s.delta_cents
                       WHEN s.c_custkey IS NULL THEN CAST(round(t.c_acctbal * 100) AS BIGINT)
                       ELSE CAST(round(t.c_acctbal * 100) AS BIGINT) + s.delta_cents
                  END AS cents
           FROM customer t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
           WHERE NOT (t.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL
                      AND s.delta_cents > 80000000))
         SELECT CAST(0 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
         FROM customer
         UNION ALL
         SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
                CAST(sum(cents) AS BIGINT) FROM v1
         ORDER BY version""",
    "dt_snapshot_diff" ->
      """WITH b AS (SELECT user_id, value FROM (
                      SELECT user_id, value, row_number() OVER (PARTITION BY user_id
                        ORDER BY ts DESC, event_id DESC) AS rn
                      FROM events WHERE epoch_us(ts) < 1705276800000000)
                    WHERE rn = 1),
              a AS (SELECT user_id, value FROM (
                      SELECT user_id, value, row_number() OVER (PARTITION BY user_id
                        ORDER BY ts DESC, event_id DESC) AS rn
                      FROM events WHERE epoch_us(ts) < 1706745600000000)
                    WHERE rn = 1)
         SELECT coalesce(b.user_id, a.user_id) AS user_id,
                CASE WHEN b.user_id IS NULL THEN 'added'
                     WHEN a.user_id IS NULL THEN 'removed'
                     WHEN b.value <> a.value THEN 'changed'
                     ELSE 'unchanged' END AS diff_status
         FROM b FULL OUTER JOIN a ON b.user_id = a.user_id
         ORDER BY user_id"""
  )

  /** DT13: incremental small-file compaction
    * ([[graft.ops.Bucketing.compactSmallFilesCommit]]) — one big commit
    * plus five tiny appends (the streaming-sink debris shape), then the
    * O(small-files) compact merges ONLY the tail; the oracle is the
    * PLAIN aggregate over the same logical rows: compaction must be
    * content-neutral. */
  val dtSmallCompact: Q = (s, d) => {
    val table = Fixtures.table("smallcompact", d) { t =>
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long").alias("cents"))
      val files = s.sparkContext.defaultParallelism.max(4)
      graft.store.SnapshotStore.commit(
        orders.filter(pmod(col("o_orderkey"), lit(7)) =!= 0).repartition(files), t)
      (0 until 5).foreach { i =>
        graft.store.SnapshotStore.appendCommit(
          orders.filter(pmod(col("o_orderkey"), lit(7)) === 0 &&
            pmod(col("o_orderkey"), lit(5)) === i).coalesce(1), t)
      }
      val (rewritten, _, _, _) = graft.ops.Bucketing.compactSmallFilesCommit(
        s, t, smallBytes = 8L * 1024 * 1024, targetBytes = 1L << 30)
      require(rewritten >= 2, s"fixture should have merged the small tail: $rewritten")
    }
    s.read.format("graft-snapshot").option("path", table).load()
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).alias("n_rows"), sum(col("cents")).alias("cents"))
      .orderBy(col("o_orderstatus"))
  }

  /** DT45: PARTITION-SCOPED OPTIMIZE (round 16 —
    * [[graft.ops.Zorder.optimizePartitionCommit]]): re-cluster ONE
    * month of the day-append fact without moving any other month's
    * bytes. The fixture DV-deletes rows, then z-orders just 1997-01:
    * every other partition's files keep their EXACT paths and mtimes
    * (pinned), the rewritten month's files are DV-materialized, and
    * the commit is one file-granular keep ++ rewritten manifest.
    * Oracle replays the delete over plain parquet — maintenance must
    * be content-neutral. */
  val dtPartitionOptimize: Q = (s, d) => {
    val wh = Fixtures.dir("partopt", d) { root =>
      val t = s"$root/facts/orders"
      val orders = Tables.orders(s, d)
      graft.store.SnapshotStore.partitionedCommit(orders, t,
        Seq(graft.store.PartitionSpec.PartField("months", "o_orderdate")))
      graft.store.SnapshotStore.deleteCommit(s, t, Seq("o_orderkey"),
        pmod(col("o_orderkey"), lit(10)) === 3 &&
          date_format(col("o_orderdate"), "yyyy-MM") === "1997-01")
      val m1 = graft.store.SnapshotStore.manifest(s, t, 1L)
      val fsys = new org.apache.hadoop.fs.Path(t)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      def mtimes(fs2: Seq[String]): Map[String, Long] = fs2.map(f =>
        f -> fsys.getFileStatus(new org.apache.hadoop.fs.Path(f)).getModificationTime).toMap
      val untouched = m1.files.filterNot(_.contains("/__gp0=1997-01/"))
      require(untouched.nonEmpty, "dt_partition_optimize: fixture needs other months")
      val before = mtimes(untouched)
      val v = graft.ops.Zorder.optimizePartitionCommit(
        s, t, Seq("o_custkey", "o_orderkey"), bits = 12, numFiles = 2, value = "1997-01")
      val m2 = graft.store.SnapshotStore.manifest(s, t, v)
      require(m2.op == "zorder-partition",
        "dt_partition_optimize: the optimize must be one subset commit")
      require(untouched.toSet.subsetOf(m2.files.toSet) && mtimes(untouched) == before,
        "dt_partition_optimize: untouched months must keep byte-identical files")
      require(m1.files.filter(_.contains("/__gp0=1997-01/"))
        .forall(f => !m2.files.contains(f)),
        "dt_partition_optimize: the optimized month's old files must all be replaced")
      // the rewritten files are DV-MATERIALIZED: a plain parquet read of
      // just the fresh files must already exclude the deleted keys
      val fresh = m2.files.filterNot(m1.files.toSet)
      require(fresh.nonEmpty && s.read.parquet(fresh: _*)
        .filter(pmod(col("o_orderkey"), lit(10)) === 3).count() == 0L,
        "dt_partition_optimize: rewritten files must carry no DV-dead rows")
    }
    val cat = snapCatalog(s, wh)
    s.sql(
      s"""SELECT date_format(o_orderdate, 'yyyy-MM') AS month,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM $cat.facts.orders
          GROUP BY 1 ORDER BY 1""")
  }

  /** DT46: INCREMENTALLY-MAINTAINED MATERIALIZED VIEW
    * ([[graft.sql.SnapshotMv]], round 16): a summary grouped by order
    * priority is created once, then the base takes an APPEND, a CoW
    * MERGE (row-changes sidecar), and a merge-on-read DELETE — and ONE
    * `refresh` folds all three commits' change-feed rows into the
    * stored state without rescanning the base (the fixture pins
    * mode=incremental and the sidecar's presence; `sum/cnt/n` subtract
    * algebraically, a removed value that ties a group's min/max
    * recomputes just that group's base slice). The oracle replays the
    * same append+merge+delete algebra over plain parquet — the
    * incrementally-maintained MV must equal the from-scratch
    * aggregate, hash-exact. */
  val dtMvIncremental: Q = (s, d) => {
    val wh = Fixtures.dir("mvinc", d) { root =>
      val cat = snapCatalog(s, root)
      val t = s"$root/facts/t"
      val mv = s"$root/marts/mv"
      graft.store.SnapshotStore.commit(
        Tables.orders(s, d).select(
          col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").alias("cents")), t) // v0
      graft.sql.SnapshotMv.create(s, t, mv, Seq("o_orderpriority"), Seq("cents"))
      // v1: append a re-keyed slice (mod-100 classes preserved, so the
      // later value-predicated merge/delete cover appended rows too)
      graft.store.SnapshotStore.appendCommit(
        graft.store.SnapshotStore.readVersion(s, t, 0L)
          .filter(pmod(col("o_orderkey"), lit(10)) === 3)
          .select((col("o_orderkey") + 9000000L).alias("o_orderkey"),
            col("o_orderpriority"), (col("cents") + 11L).alias("cents")), t)
      // v2: CoW MERGE — +500 cents for every key in class 3 (mod 100).
      // The source pins VERSION 1 (never a lazy read of the table being
      // merged) and dedups: at large SF the +9000000 re-key can collide
      // with a live key, and MERGE refuses duplicate source keys.
      graft.store.SnapshotStore.readVersion(s, t, 1L)
        .filter(pmod(col("o_orderkey"), lit(100)) === 3)
        .select(col("o_orderkey").alias("k")).distinct()
        .createOrReplaceTempView("graft_mvinc_src")
      s.sql(
        s"""MERGE INTO $cat.facts.t t USING graft_mvinc_src s ON t.o_orderkey = s.k
            WHEN MATCHED THEN UPDATE SET cents = t.cents + 500""")
      require(graft.store.SnapshotStore.manifest(s, t, 2L).rowChanges.nonEmpty,
        "dt_mv_incremental: the CoW merge must publish a row-changes sidecar")
      // v3: merge-on-read DELETE of key class 7 — 'delete' feed rows
      // carry keys only; refresh fetches the pre-images by semi-join
      graft.store.SnapshotStore.deleteKeysCommit(s, t, Seq("o_orderkey"),
        graft.store.SnapshotStore.readVersion(s, t, 2L)
          .filter(pmod(col("o_orderkey"), lit(100)) === 7)
          .select(col("o_orderkey")).distinct())
      val r = graft.sql.SnapshotMv.refresh(s, mv)
      require(r.mode == "incremental" && r.fromVersion == 0L && r.toVersion == 3L,
        s"dt_mv_incremental: the refresh must fold the feed, not rebuild — got $r")
    }
    val mv = s"$wh/marts/mv"
    graft.store.SnapshotStore.read(s, mv)
      .select(col("o_orderpriority"), col("n"), col("sum_cents"),
        col("cnt_cents"), col("min_cents"), col("max_cents"))
      .orderBy(col("o_orderpriority"))
  }

  /** DT47: INCREMENTALLY-MAINTAINED JOIN MV
    * ([[graft.sql.SnapshotMv.createJoin]], round 16): the summary of
    * `orders ⋈ customer` grouped by a DIM attribute (c_mktsegment) is
    * created once with the dim version PINNED, then the FACT takes an
    * append, a CoW MERGE, and a merge-on-read DELETE — and one
    * `refresh` folds the fact change feed, enriching each delta row
    * through the pinned dim (broadcast — fact deltas never shuffle on
    * the dim key), without rescanning fact OR dim. The registered
    * rewrite re-targets star-join aggregates of the same shape onto
    * the summary (plan-level, pinned in SnapshotMvRewriteSpec). The
    * oracle replays the identical algebra as one DuckDB join over
    * plain parquet — the maintained MV must be hash-exact. */
  val dtMvJoin: Q = (s, d) => {
    val wh = Fixtures.dir("mvjoin", d) { root =>
      val cat = snapCatalog(s, root)
      val t = s"$root/facts/t"
      val dim = s"$root/dims/customer"
      val mv = s"$root/marts/mv"
      graft.store.SnapshotStore.commit(
        Tables.orders(s, d).select(
          col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").alias("cents")), t) // v0
      graft.store.SnapshotStore.commit(
        Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")), dim)
      graft.sql.SnapshotMv.createJoin(s, t, mv,
        Seq(graft.sql.MaterializedAgg.MvDim(
          dim, Seq("o_custkey"), Seq("c_custkey"), Seq("c_mktsegment"))),
        Seq("c_mktsegment"), Seq("cents"))
      // v1: append a re-keyed slice (same custkeys, so every appended
      // row still joins; +11 cents keeps sums distinguishable)
      graft.store.SnapshotStore.appendCommit(
        graft.store.SnapshotStore.readVersion(s, t, 0L)
          .filter(pmod(col("o_orderkey"), lit(10)) === 3)
          .select((col("o_orderkey") + 9000000L).alias("o_orderkey"),
            col("o_custkey"), (col("cents") + 11L).alias("cents")), t)
      // v2: CoW MERGE — +500 cents for key class 3 (mod 100); source
      // pins version 1 and dedups (see dt_mv_incremental)
      graft.store.SnapshotStore.readVersion(s, t, 1L)
        .filter(pmod(col("o_orderkey"), lit(100)) === 3)
        .select(col("o_orderkey").alias("k")).distinct()
        .createOrReplaceTempView("graft_mvjoin_src")
      s.sql(
        s"""MERGE INTO $cat.facts.t t USING graft_mvjoin_src s ON t.o_orderkey = s.k
            WHEN MATCHED THEN UPDATE SET cents = t.cents + 500""")
      // v3: merge-on-read DELETE of key class 7 — pre-images fetched by
      // semi-join, then ENRICHED through the pinned dim before -state
      graft.store.SnapshotStore.deleteKeysCommit(s, t, Seq("o_orderkey"),
        graft.store.SnapshotStore.readVersion(s, t, 2L)
          .filter(pmod(col("o_orderkey"), lit(100)) === 7)
          .select(col("o_orderkey")).distinct())
      val r = graft.sql.SnapshotMv.refresh(s, mv)
      require(r.mode == "incremental" && r.fromVersion == 0L && r.toVersion == 3L,
        s"dt_mv_join: the refresh must fold the fact feed, not rebuild — got $r")
      require(graft.sql.SnapshotMv.meta(s, mv).get.dims.head.version == 0L,
        "dt_mv_join: the dim pin must be untouched by a fact-only refresh")
    }
    val mv = s"$wh/marts/mv"
    graft.store.SnapshotStore.read(s, mv)
      .select(col("c_mktsegment"), col("n"), col("sum_cents"),
        col("cnt_cents"), col("min_cents"), col("max_cents"))
      .orderBy(col("c_mktsegment"))
  }

  /** DT16: SQL maintenance procedures (Spark 4 `CALL`) — a fragmented
    * table (one base commit + five tiny appends, the streaming-sink
    * debris shape) is maintained ENTIRELY through SQL against the
    * catalog: `CALL system.compact_small_files` merges the small tail
    * and `CALL system.vacuum` drops the pre-compaction versions, each
    * returning its receipt as a result set the fixture asserts on. The
    * oracle is the PLAIN aggregate over the same logical rows:
    * maintenance must be content-neutral. */
  val dtCallOptimize: Q = (s, d) => {
    val table = Fixtures.dir("callopt", d) { root =>
      val t = s"$root/m/orders"
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").alias("cents"))
      val files = s.sparkContext.defaultParallelism.max(4)
      graft.store.SnapshotStore.commit(
        orders.filter(pmod(col("o_orderkey"), lit(7)) =!= 0).repartition(files), t)
      (0 until 5).foreach { i =>
        graft.store.SnapshotStore.appendCommit(
          orders.filter(pmod(col("o_orderkey"), lit(7)) === 0 &&
            pmod(col("o_orderkey"), lit(5)) === i).coalesce(1), t)
      }
      val cat = "gcall_" + java.security.MessageDigest.getInstance("MD5")
        .digest(root.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
      // threshold sized so the appended slices (~orders/35) count as
      // small at EVERY ladder scale — at big sf the base files fall
      // under it too and the merge widens, which is content-neutral
      val opt = s.sql(
        s"CALL $cat.system.compact_small_files(table => 'm.orders', small_mb => 64)")
        .head()
      require(opt.getAs[Int]("files_rewritten") >= 2,
        s"CALL compact_small_files should have merged the appended tail: $opt")
      val vac = s.sql(s"CALL $cat.system.vacuum(table => 'm.orders', keep => 2)").head()
      require(vac.getAs[Int]("n_dropped") >= 1,
        s"CALL vacuum should have dropped pre-compaction versions: $vac")
    } + "/m/orders"
    s.read.format("graft-snapshot").option("path", table).load()
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).alias("n_rows"), sum(col("cents")).alias("cents"))
      .orderBy(col("o_orderpriority"))
  }

  /** DT19: SORTED co-bucketed merge join — both facts commit through
    * [[graft.store.SnapshotStore.bucketedCommit]] with `sortCols` on
    * the join key, so the scan reports KeyGroupedPartitioning AND
    * per-partition ordering (`SupportsReportOrdering`): under a
    * non-broadcast plan the merge join runs with ZERO exchanges and
    * ZERO sort nodes (plan property pinned in `SortedLayoutSpec`; the
    * oracle pins the values). Write-once shuffle+sort, amortized over
    * every later join — the fact⨝fact contract at 100 TB. */
  val dtSortedJoin: Q = (s, d) => {
    val wh = Fixtures.dir("sortedspj", d) { root =>
      val buckets = s.sparkContext.defaultParallelism.max(4)
      graft.store.SnapshotStore.bucketedCommit(
        Tables.orders(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice"),
        s"$root/fact/orders_s", Seq("o_orderkey"), buckets, sortCols = Seq("o_orderkey"))
      graft.store.SnapshotStore.bucketedCommit(
        Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice")
          .withColumnRenamed("l_orderkey", "o_orderkey"),
        s"$root/fact/lineitem_s", Seq("o_orderkey"), buckets, sortCols = Seq("o_orderkey"))
    }
    val cat = "gsrt_" + java.security.MessageDigest.getInstance("MD5")
      .digest(wh.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.SnapshotCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(
      s"""SELECT o.o_orderstatus,
                 CAST(count(*) AS BIGINT) AS n_items,
                 CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS ext_cents
          FROM $cat.fact.orders_s o JOIN $cat.fact.lineitem_s l USING (o_orderkey)
          GROUP BY o.o_orderstatus
          ORDER BY o.o_orderstatus""")
  }

  /** DT15: STORAGE-PARTITIONED JOIN — orders and lineitem committed
    * co-bucketed on the order key ([[graft.store.SnapshotStore
    * .bucketedCommit]]), joined through the catalog with V2 bucketing
    * enabled: the scans report matching `KeyGroupedPartitioning
    * (bucket(n, key))`, the catalog's `bucket` function resolves the
    * transform, and the join plans with ZERO exchanges — the
    * write-once shuffle amortized over every read (the fact⨝fact
    * answer at 100 TB; `StoragePartitionedJoinSpec` pins the
    * zero-shuffle plan shape). The oracle replays the join on the raw
    * tables — co-location is plan-shape-only, values must be exact. */
  val dtSpjJoin: Q = (s, d) => {
    val wh = Fixtures.dir("spj", d) { root =>
      val buckets = s.sparkContext.defaultParallelism.max(4)
      graft.store.SnapshotStore.bucketedCommit(
        Tables.orders(s, d).select("o_orderkey", "o_orderpriority", "o_totalprice"),
        s"$root/fact/orders_b", Seq("o_orderkey"), buckets)
      graft.store.SnapshotStore.bucketedCommit(
        Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
          .withColumnRenamed("l_orderkey", "o_orderkey"),
        s"$root/fact/lineitem_b", Seq("o_orderkey"), buckets)
    }
    val cat = "gspj_" + java.security.MessageDigest.getInstance("MD5")
      .digest(wh.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.SnapshotCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    // v2 bucketing is a session default (graft.Sessions) — no conf flip here
    s.sql(
      s"""SELECT o.o_orderpriority,
                 CAST(count(*) AS BIGINT) AS n_items,
                 CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
                 CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM $cat.fact.orders_b o JOIN $cat.fact.lineitem_b l USING (o_orderkey)
          GROUP BY o.o_orderpriority
          ORDER BY o.o_orderpriority""")
  }

  /** dt_merge_sql SHARES dt_merge_into's oracle text: the SQL statement
    * and the DataFrame API must produce the identical merged table. */
  val oracles: Map[String, String] =
    oraclesBase +
      ("dt_merge_sql" -> oraclesBase("dt_merge_into")) +
      ("dt_merge_mor" -> oraclesBase("dt_merge_into"))

  val queries: Map[String, Q] = Map(
    "c8_funnel" -> c8Funnel,
    "c9_cohort" -> c9Cohort,
    "c10_anomaly" -> c10Anomaly,
    "dt_cdc_apply" -> dtCdcApply,
    "dt_snapshot_diff" -> dtSnapshotDiff,
    "dt_merge_into" -> dtMergeInto,
    "dt_time_travel" -> dtTimeTravel,
    "dt_restore" -> dtRestore,
    "dt_incr_agg" -> dtIncrAgg,
    "dt_delete_vectors" -> dtDeleteVectors,
    "dt_dsv2_scan" -> dtDsv2Scan,
    "dt_runtime_prune" -> dtRuntimePrune,
    "dt_catalog_tt" -> dtCatalogTt,
    "dt_agg_pushdown" -> dtAggPushdown,
    "dt_append" -> dtAppend,
    "dt_delete_files" -> dtDeleteFiles,
    "dt_partition_prune" -> dtPartitionPrune,
    "dt_groupby_rollup" -> dtGroupbyRollup,
    "dt_view_catalog" -> dtViewCatalog,
    "dt_check_prune" -> dtCheckPrune,
    "dt_agg_nullaware" -> dtAggNullaware,
    "dt_column_default" -> dtColumnDefault,
    "dt_branch_wap" -> dtBranchWap,
    "dt_txn" -> dtTxn,
    "dt_cdf_rowlevel" -> dtCdfRowlevel,
    "dt_partition_optimize" -> dtPartitionOptimize,
    "dt_mv_incremental" -> dtMvIncremental,
    "dt_mv_join" -> dtMvJoin,
    "dt_ndv_cbo" -> dtNdvCbo,
    "dt_hist_cbo" -> dtHistCbo,
    "dt_partition_evolve" -> dtPartitionEvolve,
    "dt_dynamic_overwrite" -> dtDynamicOverwrite,
    "dt_write_distribution" -> dtWriteDistribution,
    "dt_add_column_default" -> dtAddColumnDefault,
    "dt_describe_detail" -> dtDescribeDetail,
    "dt_replace_where" -> dtReplaceWhere,
    "dt_rename_column" -> dtRenameColumn,
    "dt_widen_column" -> dtWidenColumn,
    "dt_partition_delete" -> dtPartitionDelete,
    "dt_changes_batch" -> dtChangesBatch,
    "dt_merge_sql" -> dtMergeSql,
    "dt_merge_mor" -> dtMergeMor,
    "dt_tag_read" -> dtTagRead,
    "dt_ctas" -> dtCtas,
    "dt_small_compact" -> dtSmallCompact,
    "dt_call_optimize" -> dtCallOptimize,
    "dt_dv_append" -> dtDvAppend,
    "dt_spj_join" -> dtSpjJoin,
    "dt_sorted_join" -> dtSortedJoin,
    "c12_transitions" -> c12Transitions,
    "sk_skew_report" -> skSkewReport
  )
}
