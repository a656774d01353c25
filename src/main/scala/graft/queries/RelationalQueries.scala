package graft.queries

import graft.etl.{Dimensions, Keys}
import graft.model.FixedClock
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Declared correctness queries for the relational operator inventory
  * (SURVEY §2.1-§2.9: S*, P*, D*, J*, A*, W*, G1, F*, O*), each paired
  * with a DuckDB oracle over the same parquet tables.
  *
  * Conventions (SURVEY §2.12): explicit ORDER BY with a total order,
  * explicit casts on aggregates (counts → BIGINT), dates/timestamps
  * exported as formatted strings or epoch integers, booleans as INT —
  * so row hashes match across engines.
  */
object RelationalQueries {

  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- scans
  /** S2: parquet scan with projection + pushed filter. */
  val s2Scan: Q = (s, d) =>
    Tables.nation(s, d)
      .filter(col("n_regionkey") < 3)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey"))

  /** S8: temp-view definition + SQL over it. */
  val s8View: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_v")
    s.sql("""SELECT o_orderpriority,
                    CAST(count(*) AS BIGINT) AS n,
                    round(sum(o_totalprice), 2) AS total
             FROM graft_orders_v
             GROUP BY o_orderpriority
             ORDER BY o_orderpriority""")
  }

  // ---------------------------------------------- projections / predicates
  /** P1: wide projection + rename (computed columns, final rounding). */
  val p1Projection: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 1000)
      .select(
        col("l_orderkey").alias("orderkey"),
        col("l_linenumber").alias("linenumber"),
        col("l_quantity").alias("qty"),
        col("l_extendedprice").alias("price"),
        // 2+2-decimal products are exact at 4/6 decimals — rounding at the
        // exact width avoids cross-engine round-half semantics divergence
        round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).alias("disc_price"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6).alias("charge"),
        col("l_returnflag").alias("returnflag"))
      .orderBy(col("orderkey"), col("linenumber"))

  /** P2: nested-struct construction + dotted field access. */
  val p2NestedStruct: Q = (s, d) =>
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 500)
      .select(col("o_orderkey"),
        struct(col("o_orderstatus").alias("status"), col("o_totalprice").alias("price")).alias("__s"))
      .select(
        col("o_orderkey"),
        col("__s.status").alias("status"),
        round(col("__s.price"), 2).alias("price"))
      .orderBy(col("o_orderkey"))

  /** P3: array element + field access (first/last token). */
  val p3Array: Q = (s, d) =>
    Tables.documents(s, d)
      .filter(col("doc_id") < 100)
      .select(
        col("doc_id"),
        split(col("text"), " ").alias("__w"))
      .select(
        col("doc_id"),
        col("__w").getItem(0).alias("first_word"),
        element_at(col("__w"), -1).alias("last_word"),
        size(col("__w")).alias("n_words"))
      .orderBy(col("doc_id"))

  /** P4: null filter. */
  val p4NullFilter: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_quantity").isNotNull)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).alias("n"))
      .orderBy(col("l_returnflag"))

  /** P5: range predicate. */
  val p5Range: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_quantity").between(10, 20))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).alias("n"), round(sum(col("l_quantity")), 2).alias("qty_sum"))
      .orderBy(col("l_returnflag"))

  /** P6: timestamp-between predicate. */
  val p6TsBetween: Q = (s, d) =>
    Tables.events(s, d)
      .filter(col("event_time").between(to_timestamp(lit("2024-01-10 00:00:00")), to_timestamp(lit("2024-01-20 00:00:00"))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).alias("n"))
      .orderBy(col("event_type"))

  /** P7: equality filter on a dimension-ish attribute. */
  val p7EqFilter: Q = (s, d) =>
    Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).alias("n"))
      .orderBy(col("o_orderpriority"))

  /** P8: date-equality filter (fixed date = injectable "today"). */
  val p8DateEq: Q = (s, d) =>
    Tables.orders(s, d)
      .filter(to_date(col("o_orderdate")) === to_date(lit("1995-06-15")))
      .select(col("o_orderkey"), col("o_orderpriority"), round(col("o_totalprice"), 2).alias("price"))
      .orderBy(col("o_orderkey"))

  /** P9: CASE ladder bucketing. */
  val p9Case: Q = (s, d) =>
    Tables.orders(s, d)
      .select(
        when(col("o_totalprice") > 300000, "huge")
          .when(col("o_totalprice") > 150000, "large")
          .when(col("o_totalprice") > 50000, "medium")
          .otherwise("small")
          .alias("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).alias("n"))
      .orderBy(col("bucket"))

  /** P10: null-default via coalesce (nulls manufactured by nullif). */
  val p10Coalesce: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select(coalesce(expr("nullif(l_returnflag, 'N')"), lit("X")).alias("flag"))
      .groupBy(col("flag"))
      .agg(count(lit(1)).alias("n"))
      .orderBy(col("flag"))

  /** P11: literal / cast columns. */
  val p11Cast: Q = (s, d) =>
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 200)
      .select(
        col("o_orderkey"),
        col("o_totalprice").cast("int").alias("price_int"),
        col("o_orderkey").cast("string").alias("key_str"),
        lit(42).alias("answer"),
        lit("graft").alias("tag"))
      .orderBy(col("o_orderkey"))

  /** P12: schema-introspection guard — the substituted literal column when
    * the schema lacks a field (`bronze_to_silver.py:35-42` analog). */
  val p12SchemaGuard: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    // probe for an optional column; lineitem has no l_comment → literal
    val guarded =
      if (li.schema.fieldNames.contains("l_comment")) length(col("l_comment")).cast("double")
      else lit(0.0)
    li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).alias("n"), round(max(guarded), 1).alias("max_comment_len"))
      .orderBy(col("l_returnflag"))
  }

  // ----------------------------------------------------------------- dedup
  /** D1: subset dedup via dropDuplicates (keys only → deterministic). */
  val d1DedupSubset: Q = (s, d) =>
    Tables.events(s, d)
      .dropDuplicates(Seq("user_id", "event_type"))
      .select(col("user_id"), col("event_type"))
      .orderBy(col("user_id"), col("event_type"))

  /** D2: full-row distinct. */
  val d2Distinct: Q = (s, d) =>
    Tables.customer(s, d)
      .select(col("c_nationkey"), col("c_mktsegment"))
      .distinct()
      .orderBy(col("c_nationkey"), col("c_mktsegment"))

  // ----------------------------------------------------------------- joins
  /** J1: multi-key equi inner join fact→fact. */
  val j1MultiKeyJoin: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey") && li("l_linestatus") === o("o_orderstatus"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).alias("n"), round(sum(col("l_extendedprice")), 2).alias("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** J2: date-cast equi join against the generated calendar dim
    * (broadcast — the dim is 1096 rows). */
  val j2DateCastJoin: Q = (s, d) => {
    val cal = Dimensions.calendar(s, "1995-01-01", "2001-12-31")
    val o = Tables.orders(s, d)
    o.join(broadcast(cal), o("o_orderdate").cast("date") === cal("full_date"))
      .groupBy(col("year"), col("month"))
      .agg(count(lit(1)).alias("n"))
      .orderBy(col("year"), col("month"))
  }

  /** J3: role-playing dim — the calendar joined twice under aliases. */
  val j3RolePlaying: Q = (s, d) => {
    val cal = Dimensions.calendar(s, "1995-01-01", "2001-12-31")
    val calOrder = broadcast(cal.select(col("full_date").alias("__od"), col("year").alias("order_year")))
    val calShip = broadcast(cal.select(col("full_date").alias("__sd"), col("year").alias("ship_year")))
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(calOrder, col("o_orderdate").cast("date") === col("__od"))
      .join(calShip, col("l_shipdate").cast("date") === col("__sd"))
      .groupBy(col("order_year"), col("ship_year"))
      .agg(count(lit(1)).alias("n"))
      .orderBy(col("order_year"), col("ship_year"))
  }

  /** J5: fact→dim analytics join (broadcast dim). */
  val j5FactDim: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    o.join(broadcast(c.select(col("c_custkey"), col("c_mktsegment"))), o("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).alias("n"), round(avg(col("o_totalprice")), 2).alias("avg_price"))
      .orderBy(col("c_mktsegment"))
  }

  // ------------------------------------------------------------ aggregates
  /** A1: group-by + count/sum/avg/round (TPC-H Q1 shape). */
  val a1Agg: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).alias("sum_qty"),
        round(sum(col("l_extendedprice")), 2).alias("sum_price"),
        round(avg(col("l_discount")), 4).alias("avg_disc"),
        count(lit(1)).alias("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** A2: multi-key group-by. */
  val a2MultiKey: Q = (s, d) =>
    Tables.customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).alias("n"), round(sum(col("c_acctbal")), 2).alias("bal"))
      .orderBy(col("c_nationkey"), col("c_mktsegment"))

  /** A3: group-by on a computed expression. */
  val a3ComputedGroup: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).alias("order_year"))
      .agg(count(lit(1)).alias("n"))
      .orderBy(col("order_year"))

  /** A4: boolean-rate aggregation. */
  val a4BoolRate: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(round(avg((col("l_discount") > 0.05).cast("int")) * 100, 1).alias("high_disc_pct"))
      .orderBy(col("l_returnflag"))

  /** A5: scalar count action. */
  val a5Count: Q = (s, d) =>
    Tables.lineitem(s, d).agg(count(lit(1)).alias("n"))

  /** A6: distinct-count aggregation. */
  val a6DistinctAgg: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_suppkey")).alias("n_supp"))
      .orderBy(col("l_returnflag"))

  // --------------------------------------------------------------- windows
  /** W1: global row_number surrogate key (parity shape; see
    * [[graft.etl.Keys.scalableSurrogate]] for the 100 TB path). */
  val w1RowNumberGlobal: Q = (s, d) =>
    Keys.globalRowNumber(
      Tables.orders(s, d).filter(col("o_totalprice") > 400000),
      "rn", Seq(col("o_orderkey")))
      .select(col("rn"), col("o_orderkey"))
      .orderBy(col("rn"))

  /** W2: row_number dim keys (small input, total order). */
  val w2RowNumberDim: Q = (s, d) =>
    Tables.nation(s, d)
      .withColumn("nation_key", row_number().over(Window.orderBy(col("n_name"), col("n_nationkey"))))
      .select(col("nation_key"), col("n_name"), col("n_nationkey"))
      .orderBy(col("nation_key"))

  /** W3: percent-of-total empty-frame window over aggregate output. */
  val w3PctOfTotal: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).alias("n"))
      .withColumn("pct", round(col("n") * 100.0 / sum(col("n")).over(Window.partitionBy()), 1))
      .orderBy(col("o_orderpriority"))

  // ------------------------------------------------------------ generators
  /** G1: explode array→rows (vs DuckDB unnest). */
  val g1Explode: Q = (s, d) =>
    Tables.documents(s, d)
      .filter(col("doc_id") < 20)
      .select(col("doc_id"), explode(split(col("text"), " ")).alias("token"))
      .orderBy(col("doc_id"), col("token"))

  // ------------------------------------------------------------- functions
  /** F1: timestamp parse/convert family (exact integer epochs). */
  val f1TsConvert: Q = (s, d) =>
    Tables.events(s, d)
      .filter(col("event_id") < 100)
      .select(
        col("event_id"),
        col("ts_us"),
        col("ts_ms"),
        (col("ts_us") / lit(1000000L)).cast("long").alias("ts_sec"),
        date_format(col("event_time"), "yyyy-MM-dd HH:mm:ss").alias("ts_str"))
      .orderBy(col("event_id"))

  /** F2: date extraction family (day-of-week normalized cross-engine). */
  val f2DateExtract: Q = (s, d) =>
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 300)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).alias("y"),
        quarter(col("o_orderdate")).alias("q"),
        month(col("o_orderdate")).alias("m"),
        dayofmonth(col("o_orderdate")).alias("dom"),
        dayofweek(col("o_orderdate")).alias("dow"),
        weekofyear(col("o_orderdate")).alias("woy"))
      .orderBy(col("o_orderkey"))

  /** F3: date formatting. */
  val f3DateFormat: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").alias("ym"))
      .agg(count(lit(1)).alias("n"))
      .orderBy(col("ym"))

  /** F4: current timestamp through the injectable clock (FixedClock here —
    * that is the point: deterministic "now"). */
  val f4Clock: Q = (s, d) => {
    val clock = FixedClock("2024-06-01 12:00:00")
    s.range(1).select(
      date_format(clock.nowTs, "yyyy-MM-dd HH:mm:ss").alias("now_str"),
      date_format(clock.nowDate, "yyyy-MM-dd").alias("today_str"))
  }

  /** F5: math functions (round/abs/arithmetic). */
  val f5Math: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).alias("charge"),
        round(sum(abs(col("l_quantity") - 25)), 2).alias("qty_dev"),
        round(max(col("l_extendedprice") / 100.0), 2).alias("max_centi"))
      .orderBy(col("l_returnflag"))

  /** F6: membership (isin). */
  val f6IsIn: Q = (s, d) =>
    Tables.customer(s, d)
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY", "AUTOMOBILE"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).alias("n"))
      .orderBy(col("c_mktsegment"))

  /** F7: boolean / equality expressions exported as INT. */
  val f7BoolExpr: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select(
        (col("l_quantity") > 25).cast("int").alias("big_qty"),
        (col("l_returnflag") === "R").cast("int").alias("returned"))
      .groupBy(col("big_qty"), col("returned"))
      .agg(count(lit(1)).alias("n"))
      .orderBy(col("big_qty"), col("returned"))

  /** F9: JSON extraction from a string column. */
  val f9Json: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("int").alias("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).alias("n"), sum(col("k")).cast("long").alias("k_sum"))
      .orderBy(col("event_type"))

  // ----------------------------------------------------------------- sorts
  /** O1: global sort on aggregate output (desc, total tie-break). */
  val o1SortAgg: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(round(sum(col("o_totalprice")), 2).alias("total"))
      .orderBy(col("total").desc, col("o_orderpriority"))

  /** O2: sort by CASE rank (the rank is exported so the order is
    * hash-visible). */
  val o2CaseRankSort: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).alias("n"))
      .withColumn(
        "rank",
        when(col("o_orderpriority") === "1-URGENT", 1)
          .when(col("o_orderpriority") === "2-HIGH", 2)
          .when(col("o_orderpriority") === "3-MEDIUM", 3)
          .when(col("o_orderpriority") === "5-LOW", 4)
          .otherwise(5))
      .orderBy(col("rank"))

  // ----------------------------------------------------- join completeness
  /** J6: left-semi join — customers that placed at least one urgent
    * order (the EXISTS shape; semi joins ship no payload columns from
    * the probe side, exactly what a 100 TB existence check wants). */
  val j6SemiJoin: Q = (s, d) =>
    Tables.customer(s, d)
      .join(
        Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey").alias("c_custkey")),
        Seq("c_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** J7: left-anti join — customers with no 1995 orders (the NOT
    * EXISTS shape). The year restriction keeps the result non-vacuous:
    * "no orders at all" is empty at every generated SF, and a 0-row
    * match proves nothing about the anti-join path. */
  val j7AntiJoin: Q = (s, d) =>
    Tables.customer(s, d)
      .join(
        Tables.orders(s, d)
          .filter(year(col("o_orderdate")) === 1995)
          .select(col("o_custkey").alias("c_custkey")),
        Seq("c_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** A7: ROLLUP — subtotal + grand-total rows in one pass (two
    * grouping-set aggregates over one shuffle). `grouping()` flags are
    * exported so NULL group keys are distinguishable from NULL data. */
  val a7Rollup: Q = (s, d) =>
    Tables.orders(s, d)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).alias("n"),
        round(sum(col("o_totalprice")), 2).alias("total"),
        // grouping() is only resolvable inside the grouping-set aggregate
        grouping(col("o_orderstatus")).cast("int").alias("g_status"),
        grouping(col("o_orderpriority")).cast("int").alias("g_priority"))
      .orderBy(col("g_status"), col("g_priority"), col("o_orderstatus"), col("o_orderpriority"))

  /** A8 (beyond reference parity): exact interpolated percentiles per
    * group — Spark's `percentile` ≡ SQL `percentile_cont` ≡ DuckDB
    * `quantile_cont` (linear interpolation). Exact percentile sorts
    * per-group; at 100 TB prefer `percentile_approx` (bounded-memory
    * KLL-style sketch, mergeable map-side) unless exactness is required
    * by contract — the oracle pins the exact form since approx is
    * implementation-defined per engine. */
  val a8Percentile: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(call_function("percentile", col("l_quantity").cast("double"), lit(0.5)), 4)
          .alias("median_qty"),
        round(call_function("percentile", col("l_extendedprice").cast("double"), lit(0.9)), 4)
          .alias("p90_price"))
      .orderBy(col("l_returnflag"))

  /** A9 (beyond reference parity): CUBE — all 2² grouping sets with
    * grouping flags, one pass (Spark expands grouping sets BEFORE the
    * hash aggregate; partial aggregation still applies). */
  val a9Cube: Q = (s, d) =>
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).alias("n"),
        round(sum(col("o_totalprice")), 2).alias("total"),
        grouping(col("o_orderstatus")).cast("int").alias("g_status"),
        grouping(col("o_orderpriority")).cast("int").alias("g_priority"))
      .orderBy(col("g_status"), col("g_priority"), col("o_orderstatus"), col("o_orderpriority"))

  /** W4 (beyond reference parity): top-N per group — the partitioned
    * window ranks inside each group's partition (no global sort; the
    * 100 TB shape), deterministic tie-break on the key. */
  val w4TopNGroup: Q = (s, d) =>
    Tables.orders(s, d)
      .withColumn("rnk",
        row_number().over(
          Window.partitionBy(col("o_orderstatus"))
            .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .filter(col("rnk") <= 3)
      .select(col("o_orderstatus"), col("rnk"), col("o_orderkey"),
        round(col("o_totalprice"), 2).alias("price"))
      .orderBy(col("o_orderstatus"), col("rnk"))

  /** W4C (beyond reference parity): the same top-3-per-group through the
    * NATIVE grouped top-k operator ([[graft.ops.TopK.nativePerGroup]] →
    * `TopKPerGroupExec` partial + final) — whole rows, bounded heaps,
    * one exchange, no sort, no window. Shares w4's oracle semantics
    * (minus the rank column, which a heap does not materialize). */
  val w4cTopNNative: Q = (s, d) =>
    graft.ops.TopK.nativePerGroup(
      Tables.orders(s, d).select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice")),
      Seq("o_orderstatus"), Seq(("o_totalprice", true), ("o_orderkey", false)), k = 3)
      .select(col("o_orderstatus"), col("o_orderkey"),
        round(col("o_totalprice"), 2).alias("price"))
      .orderBy(col("o_orderstatus"), col("price").desc, col("o_orderkey"))

  /** G2 (beyond reference parity): posexplode — generator with element
    * position (the order-preserving flatten a tokenizer pipeline needs). */
  val g2Posexplode: Q = (s, d) =>
    Tables.documents(s, d)
      .filter(col("doc_id") < 20)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .orderBy(col("doc_id"), col("pos"))

  /** U1 (beyond reference parity): set operations — UNION (distinct),
    * INTERSECT, EXCEPT between two customer segments, tagged and stacked
    * so one result pins all three. */
  val u1SetOps: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val auto = c.filter(col("c_mktsegment") === "AUTOMOBILE").select(col("c_nationkey")).distinct()
    val bldg = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_nationkey")).distinct()
    auto.union(bldg).distinct().withColumn("op", lit("union"))
      .unionAll(auto.intersect(bldg).withColumn("op", lit("intersect")))
      .unionAll(auto.except(bldg).withColumn("op", lit("except")))
      .orderBy(col("op"), col("c_nationkey"))
  }

  /** U3 (beyond reference parity): BAG-semantics set operations —
    * `INTERSECT ALL` / `EXCEPT ALL` keep MULTIPLICITY (min / truncated
    * difference of per-row counts), the SQL corner that silently
    * diverges from the distinct forms the moment inputs carry
    * duplicates. Spark plans both as aggregate+generate (count pairs,
    * re-expand) — no join explosion; the multiplicity algebra is the
    * whole point of the entry, so inputs are taken WITHOUT distinct. */
  val u3BagSetOps: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val auto = c.filter(col("c_mktsegment") === "AUTOMOBILE").select(col("c_nationkey"))
    val bldg = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_nationkey"))
    auto.intersectAll(bldg)
      .groupBy(col("c_nationkey")).agg(count(lit(1)).alias("n"))
      .withColumn("op", lit("intersect_all"))
      .unionAll(
        auto.exceptAll(bldg)
          .groupBy(col("c_nationkey")).agg(count(lit(1)).alias("n"))
          .withColumn("op", lit("except_all")))
      .orderBy(col("op"), col("c_nationkey"))
  }

  /** A10 (beyond reference parity): HyperLogLog++ approximate distinct.
    * Sketches are engine-specific, so the DECLARED result is the
    * CONTRACT, not the estimate: exact count, and a boolean that the
    * estimate landed within 5% (the sketch runs at rsd = 0.01, so 5% is
    * a ≥5σ envelope — rsd is a standard deviation, not a bound, and the
    * default 0.05 misses 5% on real groups about a third of the time).
    * The oracle computes the exact count and pins
    * `within_5pct` literally true — an engine whose sketch drifts out of
    * contract fails the hash match. At 100 TB the sketch is the point:
    * fixed-size mergeable state per group vs a full distinct shuffle. */
  val a10ApproxDistinct: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).alias("n_exact"),
        approx_count_distinct(col("l_orderkey"), rsd = 0.01).alias("__n_approx"))
      .select(
        col("l_returnflag"),
        col("n_exact"),
        (abs(col("__n_approx") - col("n_exact")) <= col("n_exact") * 0.05).alias("within_5pct"))
      .orderBy(col("l_returnflag"))

  /** A18 (beyond reference parity): Count-Min-sketch heavy hitters —
    * the mergeable frequency sketch a 100 TB pipeline uses where exact
    * per-key counts would shuffle raw keys (boilerplate detection, hot
    * token tracking). ONE aggregation builds the sketch (KBs, partial-
    * mergeable); the exact top-10 keys are then estimated against it on
    * the driver (the sketch is a bounded model, like the k-means
    * codebooks). Contract oracle: the CM estimate never undercounts and
    * overcounts by ≤ eps·N (here eps=0.001) — deterministic because the
    * seed is fixed. */
  val a18CountMin: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val skBytes = li
      .agg(count_min_sketch(col("l_suppkey"), lit(0.001d), lit(0.99d), lit(42)).alias("sk"),
        count(lit(1)).alias("n"))
      .head()
    val sketch = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(skBytes.getAs[Array[Byte]](0)))
    val n = skBytes.getAs[Long]("n")
    val top = li.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).alias("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("l_suppkey"))
      .limit(10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val rows = top.map { case (k, exact) =>
      val est = sketch.estimateCount(java.lang.Long.valueOf(k))
      (k, exact, est >= exact && est <= exact + (0.001 * n).toLong)
    }.toSeq
    s.createDataFrame(rows).toDF("l_suppkey", "exact_cnt", "within_bound")
      .orderBy(col("exact_cnt").desc, col("l_suppkey"))
  }

  /** W5 (beyond reference parity): running total — cumulative sum per
    * group ordered by date with a rows frame (partitioned window; no
    * global sort). */
  val w5RunningTotal: Q = (s, d) =>
    Tables.orders(s, d)
      .filter(col("o_custkey") < 50)
      .withColumn("running_total",
        round(sum(col("o_totalprice")).over(
          Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("string").alias("o_orderdate"), col("running_total"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))

  /** W6 (beyond reference parity): lead/lag with defaults — the
    * adjacent-row comparison (order delta per customer) every
    * time-series pipeline needs, inside the partitioned window. */
  val w6LeadLag: Q = (s, d) =>
    Tables.orders(s, d)
      .filter(col("o_custkey") < 50)
      .select(
        col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("string").alias("o_orderdate"),
        lag(col("o_orderkey"), 1, -1L).over(
          Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey")))
          .alias("prev_order"),
        lead(col("o_orderkey"), 1, -1L).over(
          Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey")))
          .alias("next_order"),
        datediff(
          col("o_orderdate"),
          lag(col("o_orderdate"), 1).over(
            Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))))
          .alias("days_since_prev"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))

  /** O3 (beyond reference parity): global top-k via ORDER BY + LIMIT.
    * Catalyst plans `TakeOrderedAndProject`: each partition keeps a
    * k-row heap and the driver merges partition winners — no global
    * sort, no full-data shuffle (pinned in PlanShapeSpec). The ONLY
    * acceptable global-ordering shape at 100 TB. */
  val o3TopLimit: Q = (s, d) =>
    Tables.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).alias("price"))

  /** A11 (beyond reference parity): pivot — rows→columns on a bounded
    * key set. The value list is EXPLICIT (`Seq("F","O")`): with it Spark
    * plans a single map-side conditional aggregation; without it the
    * engine runs an extra distinct-collect job on the pivot column, a
    * full scan wasted at 100 TB. */
  val a11Pivot: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum(col("l_quantity")), 2))
      .orderBy(col("l_returnflag"))

  /** A12 (beyond reference parity): explicit GROUPING SETS — the general
    * form of ROLLUP/CUBE (a7/a9), here (status,priority),(status),() —
    * skipping the (priority) set CUBE would compute. One shuffle: Spark
    * expands each input row to its matching sets map-side and aggregates
    * all sets in one exchange, so a 100 TB fact is read once, not once
    * per set. */
  val a12GroupingSets: Q = (s, d) =>
    Tables.orders(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")), Seq(col("o_orderstatus")), Seq.empty),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).cast("long").alias("n"),
        round(sum(col("o_totalprice")), 2).alias("total"),
        grouping(col("o_orderstatus")).cast("int").alias("g_status"),
        grouping(col("o_orderpriority")).cast("int").alias("g_priority"))
      .orderBy(col("g_status"), col("g_priority"), col("o_orderstatus"), col("o_orderpriority"))

  /** A13 (beyond reference parity): statistical aggregates — corr,
    * sample covariance, stddev, population variance, regression slope.
    * All are single-pass partial-aggregable moments (sum, sum², sum·xy),
    * so they combine map-side like any sum: one shuffle of O(groups)
    * moment tuples regardless of fact size. Skewness/kurtosis are
    * deliberately absent: Spark computes population (g1) and DuckDB
    * sample (G1) forms, so no cross-engine oracle exists. */
  val a13Stats: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).alias("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).alias("covar_qty_price"),
        round(stddev_samp(col("l_extendedprice")), 4).alias("sd_price"),
        round(var_pop(col("l_quantity")), 6).alias("var_qty"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 6).alias("slope_price_on_qty"))
      .orderBy(col("l_returnflag"))

  /** W7 (beyond reference parity): time-RANGE window frame — rolling
    * 1-hour event-value sum per user, `RANGE BETWEEN 3600 PRECEDING AND
    * CURRENT ROW` over epoch seconds. Partitioned by user ⇒ one hash
    * exchange then a per-partition sort; the frame is a sliding
    * two-pointer over each sorted partition, O(n) not O(n·frame).
    * Epoch-seconds ordering (not raw timestamp) keeps the frame spec
    * engine-portable and the sort key 8 bytes. */
  val w7RangeFrame: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_sec")).rangeBetween(-3600L, 0L)
    Tables.events(s, d)
      .filter(col("user_id") < 30)
      .withColumn("ts_sec", col("event_time").cast("long"))
      .select(
        col("user_id"), col("event_id"), col("ts_sec"),
        round(sum(col("value")).over(w), 4).alias("rolling_1h_value"))
      .orderBy(col("user_id"), col("ts_sec"), col("event_id"))
  }

  /** W8 (beyond reference parity): distribution ranks — ntile(4),
    * percent_rank, cume_dist over per-customer spend, partitioned by
    * market segment. The window input is the AGGREGATED customer domain
    * (one row per customer), not the raw fact, and each segment sorts
    * independently — no global single-partition sort. */
  val w8Ntile: Q = (s, d) => {
    val spend = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), 2).alias("spend"))
    val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("spend"), col("o_custkey"))
    spend
      .join(Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .filter(col("o_custkey") < 300)
      .select(
        col("c_mktsegment"), col("o_custkey"), col("spend"),
        ntile(4).over(w).cast("int").alias("quartile"),
        round(percent_rank().over(w), 6).alias("pct_rank"),
        round(cume_dist().over(w), 6).alias("cume"))
      .orderBy(col("c_mktsegment"), col("spend"), col("o_custkey"))
  }

  /** F8: string-function battery (upper/substring/concat_ws/lpad/trim/
    * regexp_replace/instr/levenshtein/reverse/translate). The reference
    * has no string ops (SURVEY §2 F8 n/a) — included because any corpus
    * pipeline normalizes text. All are narrow per-row codegen'd
    * expressions; every function chosen has identical semantics in
    * DuckDB so the whole battery is hash-verified. */
  val f8String: Q = (s, d) =>
    Tables.documents(s, d)
      .filter(col("doc_id") < 50)
      .select(
        col("doc_id"),
        upper(substring(col("text"), 1, 12)).alias("head_upper"),
        concat_ws("|", col("lang"), col("source")).alias("tag"),
        lpad(col("n_chars").cast("string"), 8, "0").alias("padded_len"),
        length(trim(col("text"))).cast("int").alias("trim_len"),
        substring(regexp_replace(col("text"), "[aeiou]", ""), 1, 20).alias("devoweled_head"),
        instr(col("text"), "the").cast("int").alias("pos_the"),
        levenshtein(col("lang"), col("source")).cast("int").alias("lev_lang_source"),
        reverse(col("lang")).alias("rev_lang"),
        translate(col("source"), "aeo", "430").alias("leet_source"))
      .orderBy(col("doc_id"))

  /** F10 (beyond reference parity): map-typed column round trip —
    * per-user event-type counts folded into a `map<string,bigint>`
    * (collect_list→array_sort→map_from_entries, sorted so map build
    * order is deterministic across partitions), probed with element_at
    * and size, then exploded back to rows. Maps stay bounded by the
    * event-type domain (5 keys), so the collect_list is safe at any
    * fact size — the cardinality contract a map column needs at 100 TB. */
  val f10Map: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).alias("cnt"))
      .groupBy(col("user_id"))
      .agg(map_from_entries(array_sort(collect_list(struct(col("event_type"), col("cnt"))))).alias("m"))
      .select(
        col("user_id"),
        size(col("m")).cast("int").alias("n_types"),
        coalesce(element_at(col("m"), "click"), lit(0L)).alias("click_cnt"),
        explode(col("m")).as(Seq("event_type", "cnt")))
      .orderBy(col("user_id"), col("event_type"))

  /** G3 (beyond reference parity): unpivot/melt — columns→rows, the
    * inverse of a11. Runs on the POST-aggregate table (3 rows × 3
    * metrics), where melt belongs: unpivoting a raw 100 TB fact would
    * multiply it by the metric count before any reduction. */
  val g3Unpivot: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(sum(col("l_quantity")), 2).alias("sum_qty"),
        round(sum(col("l_extendedprice")), 2).alias("sum_price"),
        round(sum(col("l_discount")), 2).alias("sum_disc"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
        "metric", "amount")
      .orderBy(col("l_returnflag"), col("metric"))

  /** W9 (beyond reference parity): gap-fill / LOCF (last observation
    * carried forward) — `last(col, ignoreNulls)` over an unbounded-
    * preceding frame carries each user's latest purchase value across
    * subsequent non-purchase events. The sparse→filled idiom for sensor
    * and pricing feeds. Partitioned by user; the frame is a running
    * single-value state, O(1) per row. */
  val w9Locf: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_sec"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .filter(col("user_id") < 30)
      .withColumn("ts_sec", col("event_time").cast("long"))
      .withColumn("purchase_val",
        when(col("event_type") === "purchase", round(col("value"), 4)))
      .select(
        col("user_id"), col("event_id"), col("ts_sec"), col("event_type"),
        last(col("purchase_val"), ignoreNulls = true).over(w).alias("last_purchase_val"))
      .orderBy(col("user_id"), col("ts_sec"), col("event_id"))
  }

  /** C7 (beyond reference parity): time-series densification — per-user
    * dense hourly spine (`sequence` from the user's own min to max active
    * hour, exploded) left-joined to hourly aggregates, gaps zero-filled.
    * The spine is generated per user from a 2-column aggregate, so its
    * size is bounded by each user's activity span (never |users| ×
    * |global hours|) and NO cartesian/cross join appears in the plan. */
  val c7Densify: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .filter(col("user_id") < 20)
      .withColumn("hour", expr("CAST(event_time AS LONG) DIV 3600"))
    val hourly = ev.groupBy(col("user_id"), col("hour"))
      .agg(count(lit(1)).alias("n"), round(sum(col("value")), 4).alias("v"))
    val spine = ev.groupBy(col("user_id"))
      .agg(min(col("hour")).alias("h0"), max(col("hour")).alias("h1"))
      .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).alias("hour"))
    spine.join(hourly, Seq("user_id", "hour"), "left")
      .select(
        col("user_id"), col("hour"),
        coalesce(col("n"), lit(0L)).alias("n_events"),
        coalesce(col("v"), lit(0.0)).alias("value_sum"))
      .orderBy(col("user_id"), col("hour"))
  }

  /** F11 (beyond reference parity): ordered string aggregation
    * (listagg/string_agg) — distinct order statuses per priority,
    * sorted then joined. collect_set keeps the aggregate bounded by the
    * value domain; sorting happens on the tiny per-group set, after
    * aggregation, never on the fact. */
  val f11Listagg: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        array_join(array_sort(collect_set(col("o_orderstatus"))), ",").alias("statuses"),
        countDistinct(col("o_orderstatus")).cast("long").alias("n_status"))
      .orderBy(col("o_orderpriority"))

  /** J8 (beyond reference parity): FULL OUTER join — per-nation customer
    * vs supplier counts with deliberately partial overlap, unmatched
    * sides null-filled. Completes the join family (inner/left/semi/anti/
    * band/as-of already declared; full outer is also the engine's SCD2
    * merge shape, `Dimensions.scala:101`). Both inputs are pre-aggregated
    * to their key domain before the join, so the full-outer shuffle
    * carries O(|nations|) rows, not facts. */
  val j8FullOuter: Q = (s, d) => {
    val c = Tables.customer(s, d)
      .filter(col("c_nationkey") < 15)
      .groupBy(col("c_nationkey")).agg(count(lit(1)).alias("n_cust"))
    val p = Tables.supplier(s, d)
      .filter(col("s_nationkey") > 9)
      .groupBy(col("s_nationkey")).agg(count(lit(1)).alias("n_supp"))
    c.join(p, col("c_nationkey") === col("s_nationkey"), "full_outer")
      .select(
        coalesce(col("c_nationkey"), col("s_nationkey")).alias("nationkey"),
        coalesce(col("n_cust"), lit(0L)).alias("n_cust"),
        coalesce(col("n_supp"), lit(0L)).alias("n_supp"),
        (col("c_nationkey").isNotNull && col("s_nationkey").isNotNull)
          .cast("int").alias("both_sides"))
      .orderBy(col("nationkey"))
  }

  /** W4b (beyond reference parity): top-N per group via a PARTIAL-
    * AGGREGABLE typed Aggregator ([[graft.ops.TopK]]) — map-side
    * k-buffers merge through the shuffle, so it carries O(groups × k)
    * tuples where the w4 window plan sorts every group's full row set.
    * Same results, same oracle shape as `w4_topn_group`. */
  val w4bTopNAgg: Q = (s, d) => {
    val topk = udaf(graft.ops.TopK.TopKByValue(3))
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(topk(col("o_totalprice"), col("o_orderkey")).alias("top"))
      .select(
        col("o_orderstatus"),
        posexplode(arrays_zip(col("top.vs"), col("top.ids"))).as(Seq("idx", "t")))
      .select(
        col("o_orderstatus"),
        (col("idx") + 1).cast("int").alias("rnk"),
        col("t.ids").alias("o_orderkey"),
        round(col("t.vs"), 2).alias("price"))
      .orderBy(col("o_orderstatus"), col("rnk"))
  }

  /** A14 (beyond reference parity): approximate percentile CONTRACT —
    * `percentile_approx` (mergeable KLL-style quantile summaries, the
    * only percentile that aggregates two-level at 100 TB) held inside an
    * exact rank envelope: the approx p90 must land between the exact p85
    * and p95 values (rank error at accuracy 10⁴ is ~10⁻⁴, far inside).
    * The oracle checks the exact p90 and the contract bit. */
  val a14ApproxQuantile: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_exact"),
        (percentile_approx(col("l_extendedprice"), lit(0.9), lit(10000))
          .between(
            expr("percentile(l_extendedprice, 0.85)"),
            expr("percentile(l_extendedprice, 0.95)")))
          .alias("within_rank_envelope"))
      .orderBy(col("l_returnflag"))

  /** A15 (beyond reference parity): mergeable distinct-count sketches —
    * per-(flag,status) HLL sketches unioned up to per-flag estimates,
    * the two-level re-aggregation exact distinct cannot do (exact
    * distinct re-shuffles raw keys; sketches merge as 4 KB registers).
    * HLL at lgK=12 has σ≈1.6% relative error and is fully deterministic
    * (order-independent register max), so the 5% contract bit is stable;
    * the oracle checks the exact count and the bit. */
  val a15SketchMerge: Q = (s, d) => {
    val perPair = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(hll_sketch_agg(col("l_orderkey")).alias("sk"))
    val merged = perPair
      .groupBy(col("l_returnflag"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).alias("n_approx"))
    val exact = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).cast("long").alias("n_exact"))
    merged.join(exact, Seq("l_returnflag"))
      .select(
        col("l_returnflag"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact")) <= col("n_exact") * 0.05)
          .alias("within_5pct"))
      .orderBy(col("l_returnflag"))
  }

  /** F12 (beyond reference parity): VARIANT semi-structured path —
    * `parse_json` into the binary variant encoding, typed extraction
    * with `variant_get`. Unlike the string-JSON path (f9), variant
    * parses ONCE at ingestion and every downstream extraction is a
    * binary field probe — at 100 TB the difference between one parse
    * and one parse per expression. */
  val f12Variant: Q = (s, d) =>
    Tables.events(s, d)
      .filter(col("event_id") < 500)
      .withColumn("__v", parse_json(col("props")))
      .select(
        col("event_id"),
        variant_get(col("__v"), "$.k", "int").alias("k"),
        pmod(variant_get(col("__v"), "$.k", "int"), lit(7)).cast("int").alias("k_mod7"),
        variant_get(col("__v"), "$.missing", "int").alias("absent"))
      .orderBy(col("event_id"))

  /** F13 (beyond reference parity): ANSI-safe `try_` arithmetic —
    * divide-by-zero and bigint overflow yield NULL instead of failing
    * the job. Under ANSI mode (Spark 4 default) plain operators THROW on
    * these, which at 100 TB means one bad row kills a stage-hours job;
    * try_* is the per-expression opt-out that keeps the gate explicit. */
  val f13TryArith: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 500)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        // truncate, not round: the quotient lands on x.xxxx5 ties where
        // Spark (shortest-decimal) and DuckDB (binary) round-half differ
        (floor(try_divide(col("l_extendedprice"), col("l_quantity")) * 10000) / 10000)
          .alias("unit_price"),
        try_divide(col("l_extendedprice"), col("l_quantity") - col("l_quantity"))
          .alias("div_zero"),
        // +1 because orderkey 0 exists: MaxValue+0 is a VALID long
        try_add(lit(Long.MaxValue), col("l_orderkey") + 1).alias("overflow_add"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** X1 (beyond reference parity): the TPC-H Q3 shape — shipping
    * priority: 3-way join (customer ⋈ orders ⋈ lineitem) with selective
    * filters on both dimensions of time, revenue aggregation, global
    * top-10. The canonical "join order + broadcast the filtered small
    * side + TakeOrdered" plan every warehouse optimizer is judged on. */
  val x1ShippingPriority: Q = (s, d) => {
    val cutoff = "1996-03-15"
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, d).filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
    val l = Tables.lineitem(s, d).filter(col("l_shipdate") > lit(cutoff).cast("timestamp"))
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).alias("revenue"))
      .select(
        col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").alias("o_orderdate"),
        col("o_orderpriority"), col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** X2 (beyond reference parity): the TPC-H Q5 shape — regional
    * volume: 5-way snowflake join (region → nation → customer → orders
    * → lineitem ⋈ supplier with the SAME-nation constraint), revenue by
    * nation. Region/nation/supplier broadcast; the same-nation predicate
    * makes join ORDER matter — the CBO showcase. */
  val x2RegionVolume: Q = (s, d) => {
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val n = Tables.nation(s, d)
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val l = Tables.lineitem(s, d)
    val sup = Tables.supplier(s, d)
    r.join(n, col("r_regionkey") === col("n_regionkey"))
      .join(c, col("c_nationkey") === col("n_nationkey"))
      .join(o, col("o_custkey") === col("c_custkey"))
      .join(l, col("l_orderkey") === col("o_orderkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).alias("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** X3 (beyond reference parity): TPC-H Q10 shape — returned-item
    * revenue per customer over a date window, 4-way join, top 20. The
    * selective flag + date filters push to the scans; nation broadcasts;
    * the aggregate is partial+final on c_custkey; the top-20 is a
    * TakeOrderedAndProject (per-partition heaps), not a global sort. */
  val x3ReturnedCustomers: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val l = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
    val n = Tables.nation(s, d)
    c.join(o, col("o_custkey") === col("c_custkey"))
      .join(l, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).alias("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** X4 (beyond reference parity): correlated scalar subquery — orders
    * priced above 1.5× their own customer's average. Written as SQL
    * text so Catalyst's decorrelation actually runs: the optimizer
    * rewrites the per-row subquery into ONE aggregate + equi join
    * (pinned in `PlanShapeSpec` — no per-row re-execution, which is
    * the difference between O(n) and O(n²) at 100 TB). */
  val x4CorrelatedScalar: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_x4")
    s.sql("""
      SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
      FROM graft_orders_x4 o
      WHERE o_totalprice > 1.5 * (SELECT avg(o2.o_totalprice)
                                  FROM graft_orders_x4 o2
                                  WHERE o2.o_custkey = o.o_custkey)
      ORDER BY o_orderkey""")
  }

  /** X5 (beyond reference parity): LATERAL correlated subquery — each
    * customer joined to an aggregate over its own orders. Decorrelated
    * by DecorrelateInnerQuery into one aggregate + left outer join
    * (customers without orders keep a NULL, the lateral-scalar-agg
    * contract both engines share). */
  val x5Lateral: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("graft_customer_x5")
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_x5")
    s.sql("""
      SELECT c.c_custkey, t.n_orders, t.max_price
      FROM graft_customer_x5 c,
      LATERAL (SELECT count(*) AS n_orders, round(max(o.o_totalprice), 2) AS max_price
               FROM graft_orders_x5 o WHERE o.o_custkey = c.c_custkey) t
      WHERE c.c_custkey < 200
      ORDER BY c.c_custkey""")
  }

  /** A19 (beyond reference parity): equi-width histogram with share and
    * cumulative share — the profiling pass a warehouse runs before
    * choosing bucket/partition boundaries. One partial+final aggregate
    * over the facts; the percent/cumulative windows run on the 10-row
    * BUCKET table (the W3 post-aggregate pattern), never on raw rows. */
  val a19Histogram: Q = (s, d) => {
    val b = Tables.orders(s, d)
      .select(floor(col("o_totalprice") / 50000).cast("int").alias("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).alias("n"))
    val tot = b.agg(sum(col("n")).alias("__t"))
    val wCum = Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.crossJoin(broadcast(tot))
      .select(
        col("bucket"),
        (col("bucket") * 50000).cast("double").alias("lo"),
        ((col("bucket") + 1) * 50000).cast("double").alias("hi"),
        col("n"),
        round(col("n") / col("__t"), 4).alias("pct"),
        round(sum(col("n")).over(wCum) / col("__t"), 4).alias("cum_pct"))
      .orderBy(col("bucket"))
  }

  /** X6 (beyond reference parity): TPC-H Q18 shape — large-quantity
    * orders via an IN subquery over an aggregate with HAVING. SQL text
    * so RewritePredicateSubquery runs: the IN becomes a LEFT SEMI join
    * against the HAVING-filtered aggregate (pinned — no per-row
    * subquery), and the top-100 is a per-partition heap. */
  // (a20_mode lives just below x6 for file-locality with the other
  // aggregate extensions' oracles)
  /** A20 (beyond reference parity): DETERMINISTIC mode — the most
    * frequent value per group with ties broken by value order. Spark's
    * built-in `mode()` is tie-nondeterministic, so this derives the
    * mode from two partial-aggregable hash aggregates instead:
    * count per (group, value), then `min(struct(-cnt, value))` — struct
    * ordering is lexicographic, so the minimum is exactly (max count,
    * then min value). No window, no sort, both levels map-side
    * combinable: the 100 TB shape for "most common value per key". */
  val a20Mode: Q = (s, d) => {
    val counts = Tables.orders(s, d)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).alias("cnt"))
    counts.groupBy(col("o_orderstatus"))
      .agg(
        min(struct((-col("cnt")).alias("neg"), col("o_orderpriority").alias("v"))).alias("m"),
        sum(col("cnt")).alias("n_rows"))
      .select(
        col("o_orderstatus"),
        col("m.v").alias("modal_priority"),
        (-col("m.neg")).cast("long").alias("modal_count"),
        col("n_rows"))
      .orderBy(col("o_orderstatus"))
  }

  /** A21 (beyond reference parity): `GROUP BY ALL` — every non-aggregate
    * select item becomes a grouping key (same resolution rule in Spark 4
    * and DuckDB). Plans identically to the explicit form: partial+final
    * hash aggregate. */
  val a21GroupByAll: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_a21")
    s.sql("""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             round(sum(o_totalprice), 2) AS total
      FROM graft_orders_a21
      GROUP BY ALL
      ORDER BY o_orderstatus, o_orderpriority""")
  }

  /** O4 (beyond reference parity): LIMIT/OFFSET pagination. Correct and
    * portable, but the WRONG pagination shape at 100 TB — OFFSET n must
    * still produce and discard n rows upstream (Spark plans a global
    * limit of offset+limit collected to one task); production pagination
    * over big results is keyset-based (`WHERE key > last_seen ORDER BY
    * key LIMIT p`, which prunes at the scan). Declared for surface
    * parity with that caveat. */
  val o4Offset: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_o4")
    s.sql("""
      SELECT o_orderkey, round(o_totalprice, 2) AS price
      FROM graft_orders_o4
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 20 OFFSET 40""")
  }

  /** O5: KEYSET pagination — the scale-correct alternative to
    * [[o4Offset]]'s LIMIT/OFFSET. OFFSET must compute-and-discard all
    * skipped rows, so page N costs O(N·page) and deep pages serialize
    * through the limit operator; the keyset form seeks from the last
    * row the client saw — `(price, key) < cursor` under the page order
    * — so EVERY page is the same cheap top-k over a filtered scan
    * (TakeOrderedAndProject with per-partition heaps; no global sort,
    * no discarded prefix; the predicate prunes at the scan). Returns
    * page 3 of the o4 ordering, row-identical to OFFSET 40: the cursor
    * (the 40th row) is derived here by a bounded top-k and broadcast —
    * in production it is a remembered scalar from the previous page.
    * Tie-safe: o_orderkey breaks o_totalprice ties in both the order
    * and the seek predicate. */
  val o5Keyset: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val cursor = o
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(40)
      .orderBy(col("o_totalprice"), col("o_orderkey").desc) // the 40th row of the page order
      .limit(1)
      .select(col("o_totalprice").alias("last_price"), col("o_orderkey").alias("last_key"))
    o.crossJoin(broadcast(cursor))
      .filter(col("o_totalprice") < col("last_price") ||
        (col("o_totalprice") === col("last_price") && col("o_orderkey") > col("last_key")))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).alias("price"))
  }

  /** A22 (beyond reference parity): equal-frequency binning WITHOUT a
    * global sort — the scale-correct quartile bucketing. The naive form
    * (`ntile(4) OVER (ORDER BY price)`) serializes the table through
    * one task; here the three boundaries come from ONE exact-percentile
    * aggregate (a single pass), broadcast as scalars, and the bucket
    * assignment is a narrow CASE compare. Output is per-bucket counts +
    * bounds. Spark `percentile` and DuckDB `quantile_cont` share the
    * linear-interpolation definition, so boundaries agree. */
  val a22EquifreqBins: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val bounds = o.agg(
      expr("percentile(o_totalprice, 0.25)").alias("q1"),
      expr("percentile(o_totalprice, 0.5)").alias("q2"),
      expr("percentile(o_totalprice, 0.75)").alias("q3"))
    o.crossJoin(broadcast(bounds))
      .select(
        when(col("o_totalprice") < col("q1"), 1)
          .when(col("o_totalprice") < col("q2"), 2)
          .when(col("o_totalprice") < col("q3"), 3)
          .otherwise(4).alias("bucket"),
        col("q1"), col("q2"), col("q3"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).alias("n"),
        round(first(col("q1")), 4).alias("q1"),
        round(first(col("q2")), 4).alias("q2"),
        round(first(col("q3")), 4).alias("q3"))
      .orderBy(col("bucket"))
  }

  /** J11 (beyond reference parity): NULL-SAFE equi join (`<=>`) — NULLs
    * compare EQUAL, so rows whose keys are both NULL pair up instead of
    * vanishing (the dimension-with-unknown-key join). Stays a HASH join:
    * Spark normalizes null-safe keys (coalesce+isnull wrapping) rather
    * than falling back to a nested loop — pinned. */
  val j11NullsafeJoin: Q = (s, d) => {
    val c = Tables.customer(s, d).withColumn("ck", expr("nullif(c_nationkey, 3)"))
    val n = Tables.nation(s, d).withColumn("nk", expr("nullif(n_nationkey, 3)"))
    c.join(n, c("ck") <=> n("nk"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).alias("n_cust"))
      .orderBy(col("n_name"))
  }

  /** X7 (beyond reference parity): correlated EXISTS — rewritten by
    * RewritePredicateSubquery into a LEFT SEMI join (pinned: no
    * per-row subquery execution). */
  val x7Exists: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("graft_customer_x7")
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_x7")
    s.sql("""
      SELECT c_custkey, c_mktsegment
      FROM graft_customer_x7 c
      WHERE EXISTS (SELECT 1 FROM graft_orders_x7 o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
      ORDER BY c_custkey""")
  }

  /** X8 (beyond reference parity): correlated NOT EXISTS — a LEFT ANTI
    * join after rewrite (unlike NOT IN, never null-aware: EXISTS is
    * two-valued). */
  val x8NotExists: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("graft_customer_x8")
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_x8")
    s.sql("""
      SELECT c_custkey, c_mktsegment
      FROM graft_customer_x8 c
      WHERE NOT EXISTS (SELECT 1 FROM graft_orders_x8 o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderpriority = '1-URGENT')
        AND c_custkey < 500
      ORDER BY c_custkey""")
  }

  /** X9 (beyond reference parity): TPC-H Q16 shape — supplier diversity
    * per part attribute, with a NOT IN supplier exclusion and a
    * count(DISTINCT) over the join. The exclusion plans as an anti join
    * against the (broadcastable) supplier subquery; the distinct count
    * is the standard two-level expand aggregate keyed by the group —
    * nothing in the plan depends on table size except the two keyed
    * shuffles. */
  val x9PartsSupplier: Q = (s, d) => {
    Tables.part(s, d).createOrReplaceTempView("graft_part_x9")
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_x9")
    Tables.supplier(s, d).createOrReplaceTempView("graft_supplier_x9")
    s.sql("""
      SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      FROM graft_part_x9 JOIN graft_lineitem_x9 ON p_partkey = l_partkey
      WHERE p_size IN (1, 5, 9, 13)
        AND l_suppkey NOT IN (SELECT s_suppkey FROM graft_supplier_x9 WHERE s_acctbal < 0)
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
      LIMIT 50""")
  }

  /** X10 (beyond reference parity): the TPC-H Q21 shape — suppliers who
    * kept a finished multi-supplier order waiting, i.e. shipped > 60
    * days after the order date while every OTHER supplier on the order
    * shipped on time. One correlated EXISTS (→ left semi) and one
    * correlated NOT EXISTS carrying an outer-column predicate (→ left
    * anti after decorrelation) over lineitem self-joins keyed by
    * l_orderkey, so every shuffle is order-keyed; the heap LIMIT
    * replaces any global sort. (The driver's lineitem has no
    * commit/receipt dates, so lateness is ship-lag vs o_orderdate.) */
  val x10WaitingSuppliers: Q = (s, d) => {
    Tables.supplier(s, d).createOrReplaceTempView("graft_supplier_x10")
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_x10")
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_x10")
    s.sql("""
      SELECT s.s_name, count(*) AS numwait
      FROM graft_supplier_x10 s
      JOIN graft_lineitem_x10 l1 ON l1.l_suppkey = s.s_suppkey
      JOIN graft_orders_x10 o ON o.o_orderkey = l1.l_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        AND EXISTS (SELECT 1 FROM graft_lineitem_x10 l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM graft_lineitem_x10 l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      GROUP BY s.s_name
      ORDER BY numwait DESC, s.s_name
      LIMIT 20""")
  }

  /** X11 (beyond reference parity): TPC-H Q7 shape — volume shipping
    * between a nation PAIR by ship year. A 6-table join where the pair
    * disjunction makes join ORDER and broadcast choices matter (both
    * nation sides broadcast; lineitem never shuffles more than once).
    * Revenue in exact integer cent·pct units so the cross-engine sum is
    * associative — no float-accumulation drift at any scale. */
  val x11VolumeShipping: Q = (s, d) => {
    Tables.supplier(s, d).createOrReplaceTempView("graft_supplier_x11")
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_x11")
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_x11")
    Tables.customer(s, d).createOrReplaceTempView("graft_customer_x11")
    Tables.nation(s, d).createOrReplaceTempView("graft_nation_x11")
    s.sql("""
      SELECT supp_nation, cust_nation, l_year, sum(volume_cp) AS revenue_cp
      FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l.l_shipdate) AS l_year,
               CAST(round(l.l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS volume_cp
        FROM graft_supplier_x11 s
        JOIN graft_lineitem_x11 l ON s.s_suppkey = l.l_suppkey
        JOIN graft_orders_x11 o ON o.o_orderkey = l.l_orderkey
        JOIN graft_customer_x11 c ON c.c_custkey = o.o_custkey
        JOIN graft_nation_x11 n1 ON s.s_nationkey = n1.n_nationkey
        JOIN graft_nation_x11 n2 ON c.c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l.l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
      ) shipping
      GROUP BY supp_nation, cust_nation, l_year
      ORDER BY supp_nation, cust_nation, l_year""")
  }

  /** X12 (beyond reference parity): TPC-H Q8 shape — a nation's market
    * share inside a region's customer base by order year: 7-table
    * snowflake, conditional aggregation over the SAME sum (share =
    * filtered sum / total sum), exact integer units so the ratio is a
    * division of exact longs — bit-identical across engines. */
  val x12MarketShare: Q = (s, d) => {
    Tables.part(s, d).createOrReplaceTempView("graft_part_x12")
    Tables.supplier(s, d).createOrReplaceTempView("graft_supplier_x12")
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_x12")
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_x12")
    Tables.customer(s, d).createOrReplaceTempView("graft_customer_x12")
    Tables.nation(s, d).createOrReplaceTempView("graft_nation_x12")
    Tables.region(s, d).createOrReplaceTempView("graft_region_x12")
    s.sql("""
      SELECT o_year,
             round(CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume_cp ELSE 0 END) AS DOUBLE)
                   / CAST(sum(volume_cp) AS DOUBLE), 6) AS mkt_share
      FROM (
        SELECT year(o.o_orderdate) AS o_year,
               CAST(round(l.l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS volume_cp,
               n2.n_name AS nation
        FROM graft_part_x12 p
        JOIN graft_lineitem_x12 l ON p.p_partkey = l.l_partkey
        JOIN graft_supplier_x12 s ON s.s_suppkey = l.l_suppkey
        JOIN graft_orders_x12 o ON o.o_orderkey = l.l_orderkey
        JOIN graft_customer_x12 c ON c.c_custkey = o.o_custkey
        JOIN graft_nation_x12 n1 ON c.c_nationkey = n1.n_nationkey
        JOIN graft_region_x12 r ON n1.n_regionkey = r.r_regionkey
        JOIN graft_nation_x12 n2 ON s.s_nationkey = n2.n_nationkey
        WHERE r.r_name = 'EUROPE'
          AND p.p_type = 'PROMO'
          AND o.o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
      ) all_nations
      GROUP BY o_year
      ORDER BY o_year""")
  }

  /** X13 (beyond reference parity): TPC-H Q6 shape — the pure
    * scan-aggregate forecast: three range predicates and a two-column
    * product, no join, no group. The whole query is ONE parquet scan
    * with every predicate pushed (`PushedFilters` carries all three)
    * and a two-column `ReadSchema`+filter columns — the canonical
    * "does the engine read only what it must" probe. Revenue in exact
    * integer cent·cent-pct units (price cents × discount cent-pct). */
  val x13ForecastRevenue: Q = (s, d) => {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_x13")
    s.sql("""
      SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_cd
      FROM graft_lineitem_x13
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07
        AND l_quantity < 24""")
  }

  /** X14 (beyond reference parity): TPC-H Q14 shape — promo revenue
    * share in a month: one fact→dim join (part broadcasts), conditional
    * numerator over the same exact-integer sum as the denominator, so
    * the percentage is one division of exact longs. */
  val x14PromoRevenue: Q = (s, d) => {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_x14")
    Tables.part(s, d).createOrReplaceTempView("graft_part_x14")
    s.sql("""
      SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN volume_cp ELSE 0 END) AS DOUBLE)
                   / CAST(sum(volume_cp) AS DOUBLE), 6) AS promo_revenue_pct
      FROM (
        SELECT p.p_type,
               CAST(round(l.l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS volume_cp
        FROM graft_lineitem_x14 l
        JOIN graft_part_x14 p ON p.p_partkey = l.l_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
          AND l.l_shipdate < TIMESTAMP '1996-10-01') promo""")
  }

  /** X15 (beyond reference parity): TPC-H Q15 shape — the top supplier
    * by quarterly revenue: a keyed aggregate reused TWICE (once as the
    * join input, once under the global-max scalar subquery). Catalyst
    * plans the scalar max as a broadcast-able single-row aggregate and
    * reuses the revenue exchange; exact integer cents make the max
    * tie-free across engines. */
  val x15TopSupplier: Q = (s, d) => {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_x15")
    Tables.supplier(s, d).createOrReplaceTempView("graft_supplier_x15")
    s.sql("""
      WITH rev AS (
        SELECT l_suppkey AS supplier_no,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
                 AS total_revenue_cp
        FROM graft_lineitem_x15
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey)
      SELECT s.s_suppkey, s.s_name, r.total_revenue_cp
      FROM graft_supplier_x15 s
      JOIN rev r ON s.s_suppkey = r.supplier_no
      WHERE r.total_revenue_cp = (SELECT max(total_revenue_cp) FROM rev)
      ORDER BY s.s_suppkey""")
  }

  /** X16 (beyond reference parity): TPC-H Q9 shape — product-line
    * profit by supplier nation and order year: a 5-table join where
    * profit = revenue − cost needs BOTH part attributes and lineitem
    * quantities, all in exact cent·pct units (quantities are integral,
    * so the cost term is exact too). The name LIKE filter prunes part
    * FIRST — the join tree should broadcast the filtered part and
    * nation sides and shuffle lineitem exactly once. */
  val x16Profit: Q = (s, d) => {
    Tables.part(s, d).createOrReplaceTempView("graft_part_x16")
    Tables.supplier(s, d).createOrReplaceTempView("graft_supplier_x16")
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_x16")
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_x16")
    Tables.nation(s, d).createOrReplaceTempView("graft_nation_x16")
    s.sql("""
      SELECT nation, o_year, CAST(sum(amount_cp) AS BIGINT) AS profit_cp
      FROM (
        SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
               CAST(round(l.l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
                 - CAST(round(p.p_retailprice * 100) AS BIGINT) * 100
                   * CAST(l.l_quantity AS BIGINT) AS amount_cp
        FROM graft_part_x16 p
        JOIN graft_lineitem_x16 l ON p.p_partkey = l.l_partkey
        JOIN graft_supplier_x16 s ON s.s_suppkey = l.l_suppkey
        JOIN graft_orders_x16 o ON o.o_orderkey = l.l_orderkey
        JOIN graft_nation_x16 n ON s.s_nationkey = n.n_nationkey
        WHERE p.p_name LIKE '%red%'
      ) profit
      GROUP BY nation, o_year
      ORDER BY nation, o_year DESC""")
  }

  /** X17 (beyond reference parity): TPC-H Q13 shape — the customer
    * order-count distribution: a LEFT OUTER join with an extra ON
    * predicate (so customers keep rows their filter drops), a per-key
    * count, then a histogram of the counts. Two keyed aggregates; the
    * outer join must NOT convert to inner (zero-order customers are
    * the point of the query). */
  val x17OrderHistogram: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("graft_customer_x17")
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_x17")
    s.sql("""
      SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
      FROM (
        SELECT c.c_custkey, CAST(count(o.o_orderkey) AS INT) AS c_count
        FROM graft_customer_x17 c
        LEFT OUTER JOIN graft_orders_x17 o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey) c_orders
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC""")
  }

  /** X18 (beyond reference parity): TPC-H Q19 shape — disjunctive
    * multi-attribute predicates (brand × size × quantity bands OR-ed
    * together) over a fact→dim join. The shared `p_partkey = l_partkey`
    * conjunct must still drive a single equi-join (the OR only filters
    * rows); common-factor extraction keeps the disjunction out of the
    * join condition so no nested-loop appears. */
  val x18Disjunctive: Q = (s, d) => {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_x18")
    Tables.part(s, d).createOrReplaceTempView("graft_part_x18")
    s.sql("""
      SELECT CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT)
               AS revenue_cp
      FROM graft_lineitem_x18 l
      JOIN graft_part_x18 p ON p.p_partkey = l.l_partkey
      WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
              AND l.l_quantity BETWEEN 1 AND 11)
         OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
              AND l.l_quantity BETWEEN 10 AND 20)
         OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
              AND l.l_quantity BETWEEN 20 AND 30)""")
  }

  /** X19 (beyond reference parity): TPC-H Q2 shape — min-cost supplier
    * per part within a region. The testdata has no partsupp table, so
    * the part×supplier cost relation is derived from lineitem (min
    * observed price per pair) — the SHAPE is preserved exactly: a keyed
    * aggregate consumed twice, once as the join input and once under a
    * CORRELATED scalar-min subquery that repeats the region-restricted
    * join. Catalyst decorrelates the subquery into one aggregate +
    * equi join on p_partkey (no per-row re-execution); prices in exact
    * integer cents make the min comparison tie-free across engines. */
  val x19MinCostSupplier: Q = (s, d) => {
    Tables.part(s, d).createOrReplaceTempView("graft_part_x19")
    Tables.supplier(s, d).createOrReplaceTempView("graft_supplier_x19")
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_x19")
    Tables.nation(s, d).createOrReplaceTempView("graft_nation_x19")
    Tables.region(s, d).createOrReplaceTempView("graft_region_x19")
    s.sql("""
      WITH cost AS (
        SELECT l.l_partkey, l.l_suppkey,
               CAST(min(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS min_price_c
        FROM graft_lineitem_x19 l
        GROUP BY l.l_partkey, l.l_suppkey)
      SELECT round(s.s_acctbal, 2) AS acctbal, s.s_name, n.n_name,
             p.p_partkey, p.p_name, c.min_price_c
      FROM graft_part_x19 p
      JOIN cost c ON c.l_partkey = p.p_partkey
      JOIN graft_supplier_x19 s ON s.s_suppkey = c.l_suppkey
      JOIN graft_nation_x19 n ON n.n_nationkey = s.s_nationkey
      JOIN graft_region_x19 r ON r.r_regionkey = n.n_regionkey
      WHERE p.p_size = 15 AND r.r_name = 'EUROPE'
        AND c.min_price_c = (
          SELECT min(c2.min_price_c)
          FROM cost c2
          JOIN graft_supplier_x19 s2 ON s2.s_suppkey = c2.l_suppkey
          JOIN graft_nation_x19 n2 ON n2.n_nationkey = s2.s_nationkey
          JOIN graft_region_x19 r2 ON r2.r_regionkey = n2.n_regionkey
          WHERE c2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
      ORDER BY acctbal DESC, n.n_name, s.s_name, p.p_partkey
      LIMIT 100""")
  }

  /** X20 (beyond reference parity): TPC-H Q4 shape — order-priority
    * checking: orders in a quarter having at least one LATE lineitem
    * (shipped > 90 days after the order date — the commitdate surrogate,
    * since the testdata carries no l_commitdate), counted by priority.
    * The EXISTS becomes a left-semi join with a mixed equi + non-equi
    * condition; the date filter pushes to the orders scan. */
  val x20PriorityExists: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_x20")
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_x20")
    s.sql("""
      SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      FROM graft_orders_x20 o
      WHERE o.o_orderdate >= TIMESTAMP '1996-07-01' AND o.o_orderdate < TIMESTAMP '1996-10-01'
        AND EXISTS (SELECT 1 FROM graft_lineitem_x20 l
                    WHERE l.l_orderkey = o.o_orderkey
                      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
      GROUP BY o.o_orderpriority
      ORDER BY o.o_orderpriority""")
  }

  /** X21 (beyond reference parity): TPC-H Q11 shape — important parts:
    * per-part inventory value (price-cents × integral quantity — exact)
    * restricted to one nation's suppliers, kept only where the part's
    * share exceeds a fraction of the GLOBAL sum — a scalar subquery in
    * HAVING over the same relation. The CTE is scanned twice; both
    * aggregates are partial+final on their keys, and the global sum is
    * a single-row broadcast. */
  val x21ImportantParts: Q = (s, d) => {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_x21")
    Tables.supplier(s, d).createOrReplaceTempView("graft_supplier_x21")
    Tables.nation(s, d).createOrReplaceTempView("graft_nation_x21")
    s.sql("""
      WITH pvalue AS (
        SELECT l.l_partkey,
               CAST(round(l.l_extendedprice * 100) AS BIGINT)
                 * CAST(l.l_quantity AS BIGINT) AS value_c
        FROM graft_lineitem_x21 l
        JOIN graft_supplier_x21 s ON s.s_suppkey = l.l_suppkey
        JOIN graft_nation_x21 n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name = 'NATION_7')
      SELECT l_partkey, CAST(sum(value_c) AS BIGINT) AS value_c
      FROM pvalue
      GROUP BY l_partkey
      HAVING CAST(sum(value_c) AS DOUBLE) >
             (SELECT CAST(sum(value_c) AS DOUBLE) * 0.001 FROM pvalue)
      ORDER BY value_c DESC, l_partkey""")
  }

  /** X22 (beyond reference parity): TPC-H Q12 shape — lineitems of a
    * year classified into ship-delay bands (the l_shipmode surrogate —
    * the testdata has no shipmode column), with urgent/non-urgent
    * conditional counts per band. One fact→fact equi join, the CASE
    * runs codegen'd in the project, and the aggregate is partial+final
    * on the 3-row band key. */
  val x22ShipDelayClasses: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_x22")
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_x22")
    s.sql("""
      SELECT delay_class,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      FROM (
        SELECT o.o_orderpriority,
               CASE WHEN l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY THEN 'FAST'
                    WHEN l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY THEN 'NORMAL'
                    ELSE 'SLOW' END AS delay_class
        FROM graft_orders_x22 o
        JOIN graft_lineitem_x22 l ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate < TIMESTAMP '1997-01-01') t
      GROUP BY delay_class
      ORDER BY delay_class""")
  }

  /** X23 (beyond reference parity): TPC-H Q17 shape — small-quantity
    * revenue: lineitems of one brand whose quantity is under 20% of
    * that PART's average quantity — a correlated scalar-avg subquery
    * per outer row. Decorrelated into one per-part average + equi join;
    * the average of integral-double quantities is an exact sum/count in
    * both engines, and the revenue lands in exact integer cents. */
  val x23SmallQtyRevenue: Q = (s, d) => {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_x23")
    Tables.part(s, d).createOrReplaceTempView("graft_part_x23")
    s.sql("""
      SELECT CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS small_qty_revenue_c
      FROM graft_lineitem_x23 l
      JOIN graft_part_x23 p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand = 'Brand#23'
        AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                            FROM graft_lineitem_x23 l2
                            WHERE l2.l_partkey = l.l_partkey)""")
  }

  /** X24 (beyond reference parity): TPC-H Q20 shape — dominant
    * suppliers of a part family: a nested IN over a grouped HAVING
    * whose threshold is itself a CORRELATED scalar sum per part (the
    * ps_availqty surrogate: a supplier qualifies when it shipped more
    * than half of a part's total). Three nesting levels — IN → GROUP
    * BY/HAVING → correlated scalar — all decorrelated into joins;
    * integral-double quantity sums are exact in both engines. */
  val x24ExcessSuppliers: Q = (s, d) => {
    Tables.supplier(s, d).createOrReplaceTempView("graft_supplier_x24")
    Tables.nation(s, d).createOrReplaceTempView("graft_nation_x24")
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_x24")
    Tables.part(s, d).createOrReplaceTempView("graft_part_x24")
    s.sql("""
      SELECT s.s_suppkey, s.s_name
      FROM graft_supplier_x24 s
      JOIN graft_nation_x24 n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_3'
        AND s.s_suppkey IN (
          SELECT l.l_suppkey
          FROM graft_lineitem_x24 l
          WHERE l.l_partkey IN (SELECT p_partkey FROM graft_part_x24
                                WHERE p_name LIKE 'red%')
            AND l.l_shipdate >= TIMESTAMP '1996-01-01'
            AND l.l_shipdate < TIMESTAMP '1997-01-01'
          GROUP BY l.l_suppkey, l.l_partkey
          HAVING sum(l.l_quantity) > 0.5 * (
            SELECT sum(l2.l_quantity) FROM graft_lineitem_x24 l2
            WHERE l2.l_partkey = l.l_partkey
              AND l2.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l2.l_shipdate < TIMESTAMP '1997-01-01'))
      ORDER BY s.s_suppkey""")
  }

  /** X25 (beyond reference parity): TPC-H Q22 shape — idle customers
    * with means: above-average account balance (global scalar-avg
    * subquery over a filtered self-scan, computed on exact integer
    * cents so the threshold is engine-identical) and no RECENT orders
    * (anti join — every synthetic customer has some order, so "idle"
    * means lapsed since 1999), grouped by country segment (c_nationkey stands in for the
    * phone country code the testdata doesn't carry). */
  val x25IdleCustomers: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("graft_customer_x25")
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_x25")
    s.sql("""
      WITH pot AS (
        SELECT c.c_custkey, CAST(c.c_nationkey AS INT) AS cntry,
               CAST(round(c.c_acctbal * 100) AS BIGINT) AS acctbal_c
        FROM graft_customer_x25 c
        WHERE c.c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
      SELECT cntry, CAST(count(*) AS BIGINT) AS numcust,
             CAST(sum(acctbal_c) AS BIGINT) AS totacctbal_c
      FROM pot p
      WHERE p.acctbal_c > (SELECT avg(CAST(p2.acctbal_c AS DOUBLE))
                           FROM pot p2 WHERE p2.acctbal_c > 0)
        AND NOT EXISTS (SELECT 1 FROM graft_orders_x25 o
                        WHERE o.o_custkey = p.c_custkey
                          AND o.o_orderdate >= TIMESTAMP '1999-01-01')
      GROUP BY cntry
      ORDER BY cntry""")
  }

  val x6LargeOrders: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("graft_customer_x6")
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_x6")
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_x6")
    s.sql("""
      SELECT c.c_name, c.c_custkey, o.o_orderkey,
             date_format(o.o_orderdate, 'yyyy-MM-dd') AS o_orderdate,
             round(o.o_totalprice, 2) AS price,
             sum(l.l_quantity) AS total_qty
      FROM graft_customer_x6 c
      JOIN graft_orders_x6 o ON o.o_custkey = c.c_custkey
      JOIN graft_lineitem_x6 l ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderkey IN (SELECT l_orderkey FROM graft_lineitem_x6
                             GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
      GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
      ORDER BY price DESC, o.o_orderkey LIMIT 100""")
  }

  /** W10 (beyond reference parity): the full rank family in one window —
    * row_number / rank / dense_rank / nth_value, gap semantics included
    * (ties share rank, dense_rank has no gaps). */
  val w10RankFamily: Q = (s, d) => {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_orderpriority"), col("o_orderkey"))
    val wFrame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 300)
      .select(
        col("o_orderstatus"), col("o_orderkey"), col("o_orderpriority"),
        row_number().over(w).cast("int").alias("rn"),
        rank().over(w).cast("int").alias("rnk"),
        dense_rank().over(w).cast("int").alias("drnk"),
        nth_value(col("o_orderkey"), 2).over(wFrame).alias("second_key"))
      .orderBy(col("o_orderstatus"), col("rn"))
  }

  /** A16 (beyond reference parity): argmax/argmin aggregation — the
    * "which row holds the extreme" question answered in ONE aggregation
    * pass (max_by/min_by carry the witness through partial merges)
    * instead of the self-join-on-max anti-pattern that scans twice. */
  val a16MinMaxBy: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        // scalar order key: price dominates, orderkey breaks ties (lower
        // key wins on equal price); prices ≲ 6e5 so price·1e8 ≈ 6e13 keeps
        // a unit orderkey step ≫ one double ulp — IEEE-identical in DuckDB
        max_by(col("o_orderkey"), col("o_totalprice") * lit(1e8) - col("o_orderkey"))
          .alias("priciest_order"),
        min_by(col("o_orderkey"), col("o_totalprice") * lit(1e8) - col("o_orderkey"))
          .alias("cheapest_order"),
        round(max(col("o_totalprice")), 2).alias("max_price"))
      .orderBy(col("o_orderstatus"))

  /** A17 (beyond reference parity): boolean aggregates — every/bool_and,
    * some/bool_or, count_if. Partial-aggregable single-bit state. */
  val a17BoolAgg: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        every(col("l_quantity") > 0).cast("int").alias("all_positive_qty"),
        some(col("l_discount") > lit(0.09)).cast("int").alias("any_high_discount"),
        count_if(col("l_tax") > lit(0.05)).cast("long").alias("n_high_tax"))
      .orderBy(col("l_returnflag"))

  /** F14 (beyond reference parity): array-function battery — union /
    * intersect / except / distinct / flatten / zip_with, results sorted
    * so cross-engine set ORDER semantics never matter. All narrow
    * per-row HOFs. */
  val f14Array: Q = (s, d) =>
    Tables.documents(s, d)
      .filter(col("doc_id") < 30)
      .withColumn("__w", split(lower(col("text")), " "))
      .withColumn("__a", slice(col("__w"), 1, 6))
      .withColumn("__b", slice(col("__w"), 4, 6))
      .select(
        col("doc_id"),
        // arrays stringified: the differential harness sorts/hashes flat
        // values, so list cells are joined deterministically
        array_join(array_sort(array_distinct(concat(col("__a"), col("__b")))), " ").alias("union_sorted"),
        array_join(array_sort(array_intersect(col("__a"), col("__b"))), " ").alias("intersect_sorted"),
        array_join(array_sort(array_except(col("__a"), col("__b"))), " ").alias("except_sorted"),
        size(array_distinct(col("__w"))).cast("int").alias("n_distinct_words"),
        array_join(zip_with(col("__a"), col("__a"), (x, y) => (length(x) + length(y)).cast("string")), " ")
          .alias("double_lengths"))
      .orderBy(col("doc_id"))

  /** F15 (beyond reference parity): date arithmetic — add days/months,
    * month boundaries, quarter/ISO week extraction. Only functions with
    * engine-identical semantics (fractional months_between and
    * 0-vs-1-based dayofweek are deliberately excluded). */
  val f15DateArith: Q = (s, d) =>
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 300)
      .withColumn("__d", col("o_orderdate").cast("date"))
      .select(
        col("o_orderkey"),
        date_format(col("__d"), "yyyy-MM-dd").alias("order_date"),
        date_format(date_add(col("__d"), 30), "yyyy-MM-dd").alias("plus_30d"),
        date_format(add_months(col("__d"), 2), "yyyy-MM-dd").alias("plus_2m"),
        date_format(last_day(col("__d")), "yyyy-MM-dd").alias("month_end"),
        date_format(trunc(col("__d"), "month"), "yyyy-MM-dd").alias("month_start"),
        quarter(col("__d")).cast("int").alias("qtr"),
        weekofyear(col("__d")).cast("int").alias("iso_week"))
      .orderBy(col("o_orderkey"))

  /** U2 (beyond reference parity): union by NAME with missing columns —
    * the schema-evolution merge: two batches with different column
    * order and one absent column align by name, the gap null-filled.
    * Positional UNION would silently mis-associate columns; this is the
    * only safe way to append an evolved batch to 100 TB of history. */
  val u2UnionByName: Q = (s, d) => {
    val old = Tables.orders(s, d)
      .filter(col("o_orderkey") < 200)
      .select(col("o_orderkey"), col("o_orderstatus"), round(col("o_totalprice"), 2).alias("price"))
    val evolved = Tables.orders(s, d)
      .filter(col("o_orderkey") >= 200 && col("o_orderkey") < 400)
      // different column ORDER + a new column the old batch lacks
      .select(round(col("o_totalprice"), 2).alias("price"), col("o_orderkey"),
        col("o_orderstatus"), col("o_orderpriority").alias("priority"))
    old.unionByName(evolved, allowMissingColumns = true)
      .select(col("o_orderkey"), col("o_orderstatus"), col("price"),
        coalesce(col("priority"), lit("<none>")).alias("priority"))
      .orderBy(col("o_orderkey"))
  }

  /** F16 (beyond reference parity): regex extraction — capture groups
    * (`regexp_extract`), match predicate (`rlike`), and match counting,
    * RE2-portable patterns so both engines agree. */
  val f16Regex: Q = (s, d) =>
    Tables.documents(s, d)
      .filter(col("doc_id") < 60)
      .select(
        col("doc_id"),
        regexp_extract(col("text"), "([A-Za-z]+) ([A-Za-z]+)", 2).alias("second_word"),
        col("text").rlike("[0-9]").cast("int").alias("has_digit"),
        size(regexp_extract_all(col("text"), lit("[aeiou]+"), lit(0))).cast("int")
          .alias("n_vowel_runs"))
      .orderBy(col("doc_id"))

  /** G4 (beyond reference parity): PageRank over the customer↔supplier
    * purchase graph ([[graft.ops.Graph.pageRank]]) — 3 fixed iterations,
    * d=0.85, node ids namespaced ('c'/'s' prefixes: the key spaces
    * overlap numerically). Fixed iterations make the whole computation
    * SQL-replayable — the oracle unrolls all three rounds as CTEs. */
  val g4Pagerank: Q = (s, d) => {
    val e = Tables.orders(s, d).filter(col("o_orderkey") < 2000)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(
        concat(lit("c"), col("o_custkey")).alias("src"),
        concat(lit("s"), col("l_suppkey")).alias("dst"))
      .distinct()
    graft.ops.Graph.pageRank(e, "src", "dst", iterations = 3)
      .select(col("node"), round(col("pr"), 8).alias("pr"))
      .orderBy(col("node"))
  }

  /** G5 (beyond reference parity): label-propagation communities over
    * the same purchase graph as G4 ([[graft.ops.Graph.labelPropagation]])
    * — 3 fixed synchronous rounds, most-frequent neighbor label, ties
    * to the MINIMUM label so the run is deterministic and the oracle
    * can unroll every round as CTEs (histogram → max count → argmin). */
  val g5LabelProp: Q = (s, d) => {
    val e = Tables.orders(s, d).filter(col("o_orderkey") < 2000)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(
        concat(lit("c"), col("o_custkey")).alias("src"),
        concat(lit("s"), col("l_suppkey")).alias("dst"))
      .distinct()
    graft.ops.Graph.labelPropagation(e, "src", "dst", iterations = 3)
      .orderBy(col("node"))
  }

  // ------------------------------------------------------------ oracle SQL
  val oracles: Map[String, String] = Map(
    "g4_pagerank" ->
      """WITH e AS (
           SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS s,
                           's' || CAST(l_suppkey AS VARCHAR) AS t
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           WHERE o_orderkey < 2000),
         sym AS (SELECT DISTINCT src, dst FROM (
           SELECT s AS src, t AS dst FROM e UNION ALL SELECT t AS src, s AS dst FROM e)),
         deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS dg FROM sym GROUP BY 1),
         nodes AS (SELECT src AS node FROM deg),
         n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM nodes),
         pr0 AS (SELECT node, 1.0 / nn AS pr FROM nodes CROSS JOIN n),
         c1 AS (SELECT dst, sum(p.pr / d.dg) AS i
                FROM sym JOIN deg d USING (src) JOIN pr0 p ON sym.src = p.node GROUP BY dst),
         pr1 AS (SELECT node, 0.15 / nn + 0.85 * coalesce(i, 0) AS pr
                 FROM nodes CROSS JOIN n LEFT JOIN c1 ON nodes.node = c1.dst),
         c2 AS (SELECT dst, sum(p.pr / d.dg) AS i
                FROM sym JOIN deg d USING (src) JOIN pr1 p ON sym.src = p.node GROUP BY dst),
         pr2 AS (SELECT node, 0.15 / nn + 0.85 * coalesce(i, 0) AS pr
                 FROM nodes CROSS JOIN n LEFT JOIN c2 ON nodes.node = c2.dst),
         c3 AS (SELECT dst, sum(p.pr / d.dg) AS i
                FROM sym JOIN deg d USING (src) JOIN pr2 p ON sym.src = p.node GROUP BY dst),
         pr3 AS (SELECT node, 0.15 / nn + 0.85 * coalesce(i, 0) AS pr
                 FROM nodes CROSS JOIN n LEFT JOIN c3 ON nodes.node = c3.dst)
         SELECT node, round(pr, 8) AS pr FROM pr3 ORDER BY node""",
    "g5_label_prop" ->
      """WITH e AS (
           SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS s,
                           's' || CAST(l_suppkey AS VARCHAR) AS t
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           WHERE o_orderkey < 2000),
         sym AS (SELECT DISTINCT src, dst FROM (
           SELECT s AS src, t AS dst FROM e UNION ALL SELECT t AS src, s AS dst FROM e)),
         l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
         h1 AS (SELECT sym.src AS src, l0.label AS label, count(*) AS cnt
                FROM sym JOIN l0 ON sym.dst = l0.node GROUP BY 1, 2),
         m1 AS (SELECT src, max(cnt) AS mx FROM h1 GROUP BY 1),
         l1 AS (SELECT h1.src AS node,
                       coalesce(max(CASE WHEN h1.label = c.label THEN h1.label END),
                                min(h1.label)) AS label
                FROM h1 JOIN m1 ON h1.src = m1.src AND h1.cnt = m1.mx
                        JOIN l0 c ON h1.src = c.node GROUP BY 1),
         h2 AS (SELECT sym.src AS src, l1.label AS label, count(*) AS cnt
                FROM sym JOIN l1 ON sym.dst = l1.node GROUP BY 1, 2),
         m2 AS (SELECT src, max(cnt) AS mx FROM h2 GROUP BY 1),
         l2 AS (SELECT h2.src AS node,
                       coalesce(max(CASE WHEN h2.label = c.label THEN h2.label END),
                                min(h2.label)) AS label
                FROM h2 JOIN m2 ON h2.src = m2.src AND h2.cnt = m2.mx
                        JOIN l1 c ON h2.src = c.node GROUP BY 1),
         h3 AS (SELECT sym.src AS src, l2.label AS label, count(*) AS cnt
                FROM sym JOIN l2 ON sym.dst = l2.node GROUP BY 1, 2),
         m3 AS (SELECT src, max(cnt) AS mx FROM h3 GROUP BY 1),
         l3 AS (SELECT h3.src AS node,
                       coalesce(max(CASE WHEN h3.label = c.label THEN h3.label END),
                                min(h3.label)) AS label
                FROM h3 JOIN m3 ON h3.src = m3.src AND h3.cnt = m3.mx
                        JOIN l2 c ON h3.src = c.node GROUP BY 1)
         SELECT node, label FROM l3 ORDER BY node""",
    "u2_union_by_name" ->
      """SELECT o_orderkey, o_orderstatus, price, priority FROM (
           SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price,
                  '<none>' AS priority
           FROM orders WHERE o_orderkey < 200
           UNION ALL
           SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price,
                  o_orderpriority AS priority
           FROM orders WHERE o_orderkey >= 200 AND o_orderkey < 400)
         ORDER BY o_orderkey""",
    "f16_regex" ->
      """SELECT doc_id,
                regexp_extract(text, '([A-Za-z]+) ([A-Za-z]+)', 2) AS second_word,
                CAST(CASE WHEN regexp_matches(text, '[0-9]') THEN 1 ELSE 0 END AS INT) AS has_digit,
                CAST(len(regexp_extract_all(text, '[aeiou]+')) AS INT) AS n_vowel_runs
         FROM documents WHERE doc_id < 60 ORDER BY doc_id""",
    "w10_rank_family" ->
      """SELECT o_orderstatus, o_orderkey, o_orderpriority,
                CAST(row_number() OVER w AS INT) AS rn,
                CAST(rank() OVER w AS INT) AS rnk,
                CAST(dense_rank() OVER w AS INT) AS drnk,
                nth_value(o_orderkey, 2) OVER (PARTITION BY o_orderstatus
                                               ORDER BY o_orderpriority, o_orderkey
                                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS second_key
         FROM orders WHERE o_orderkey < 300
         WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderpriority, o_orderkey)
         ORDER BY o_orderstatus, rn""",
    "a16_min_max_by" ->
      """SELECT o_orderstatus,
                arg_max(o_orderkey, o_totalprice * 100000000 - o_orderkey) AS priciest_order,
                arg_min(o_orderkey, o_totalprice * 100000000 - o_orderkey) AS cheapest_order,
                round(max(o_totalprice), 2) AS max_price
         FROM orders GROUP BY 1 ORDER BY 1""",
    "a17_bool_agg" ->
      """SELECT l_returnflag,
                CAST(CASE WHEN bool_and(l_quantity > 0) THEN 1 ELSE 0 END AS INT) AS all_positive_qty,
                CAST(CASE WHEN bool_or(l_discount > 0.09) THEN 1 ELSE 0 END AS INT) AS any_high_discount,
                CAST(count(*) FILTER (WHERE l_tax > 0.05) AS BIGINT) AS n_high_tax
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "f14_array" ->
      """WITH t AS (
           SELECT doc_id,
                  string_split(lower(text), ' ') AS w,
                  list_slice(string_split(lower(text), ' '), 1, 6) AS a,
                  list_slice(string_split(lower(text), ' '), 4, 9) AS b
           FROM documents WHERE doc_id < 30)
         SELECT doc_id,
                array_to_string(list_sort(list_distinct(list_concat(a, b))), ' ') AS union_sorted,
                array_to_string(list_sort(list_intersect(a, b)), ' ') AS intersect_sorted,
                array_to_string(list_sort(list_filter(list_distinct(a), x -> NOT list_contains(b, x))), ' ') AS except_sorted,
                CAST(len(list_distinct(w)) AS INT) AS n_distinct_words,
                array_to_string(list_transform(a, x -> CAST(2 * length(x) AS VARCHAR)), ' ') AS double_lengths
         FROM t ORDER BY doc_id""",
    "f15_date_arith" ->
      """SELECT o_orderkey,
                strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
                strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS plus_30d,
                strftime(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH, '%Y-%m-%d') AS plus_2m,
                strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
                strftime(date_trunc('month', CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_start,
                CAST(quarter(o_orderdate) AS INT) AS qtr,
                CAST(weekofyear(o_orderdate) AS INT) AS iso_week
         FROM orders WHERE o_orderkey < 300 ORDER BY o_orderkey""",
    "x1_shipping_priority" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                o_orderpriority,
                round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
         FROM customer JOIN orders ON c_custkey = o_custkey
                       JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1996-03-15'
           AND l_shipdate > TIMESTAMP '1996-03-15'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "x3_returned_customers" ->
      """SELECT c_custkey, c_name, n_name,
                round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
         FROM customer JOIN orders ON o_custkey = c_custkey
                       JOIN lineitem ON l_orderkey = o_orderkey
                       JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY c_custkey, c_name, n_name
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "x4_correlated_scalar" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
         FROM orders o
         WHERE o_totalprice > 1.5 * (SELECT avg(o2.o_totalprice) FROM orders o2
                                     WHERE o2.o_custkey = o.o_custkey)
         ORDER BY o_orderkey""",
    "x5_lateral" ->
      """SELECT c.c_custkey, t.n_orders, t.max_price
         FROM customer c,
         LATERAL (SELECT count(*) AS n_orders, round(max(o.o_totalprice), 2) AS max_price
                  FROM orders o WHERE o.o_custkey = c.c_custkey) t
         WHERE c.c_custkey < 200
         ORDER BY c.c_custkey""",
    "x2_region_volume" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
         FROM region JOIN nation ON r_regionkey = n_regionkey
                     JOIN customer ON c_nationkey = n_nationkey
                     JOIN orders ON o_custkey = c_custkey
                     JOIN lineitem ON l_orderkey = o_orderkey
                     JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
         WHERE r_name = 'ASIA' AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "f12_variant" ->
      """SELECT event_id,
                CAST(json_extract_string(props, '$.k') AS INT) AS k,
                CAST(CAST(json_extract_string(props, '$.k') AS INT) % 7 AS INT) AS k_mod7,
                CAST(json_extract_string(props, '$.missing') AS INT) AS absent
         FROM events WHERE event_id < 500 ORDER BY event_id""",
    "f13_try_arith" ->
      """SELECT l_orderkey, l_linenumber,
                floor(l_extendedprice / l_quantity * 10000) / 10000 AS unit_price,
                CAST(NULL AS DOUBLE) AS div_zero,
                CAST(NULL AS BIGINT) AS overflow_add
         FROM lineitem WHERE l_orderkey < 500 ORDER BY l_orderkey, l_linenumber""",
    "j8_full_outer" ->
      """WITH c AS (SELECT c_nationkey AS k, CAST(count(*) AS BIGINT) AS n_cust
                    FROM customer WHERE c_nationkey < 15 GROUP BY 1),
              s AS (SELECT s_nationkey AS k, CAST(count(*) AS BIGINT) AS n_supp
                    FROM supplier WHERE s_nationkey > 9 GROUP BY 1)
         SELECT coalesce(c.k, s.k) AS nationkey,
                coalesce(n_cust, 0) AS n_cust,
                coalesce(n_supp, 0) AS n_supp,
                CAST(CASE WHEN c.k IS NOT NULL AND s.k IS NOT NULL
                          THEN 1 ELSE 0 END AS INT) AS both_sides
         FROM c FULL OUTER JOIN s ON c.k = s.k ORDER BY nationkey""",
    "w4b_topn_agg" ->
      """SELECT o_orderstatus, CAST(rnk AS INT) AS rnk, o_orderkey,
                round(o_totalprice, 2) AS price
         FROM (SELECT o_orderstatus, o_orderkey, o_totalprice,
                      row_number() OVER (PARTITION BY o_orderstatus
                                         ORDER BY o_totalprice DESC, o_orderkey) AS rnk
               FROM orders)
         WHERE rnk <= 3 ORDER BY o_orderstatus, rnk""",
    "a14_approx_quantile" ->
      """SELECT l_returnflag,
                round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9), 4) AS p90_exact,
                true AS within_rank_envelope
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "a18_count_min" ->
      """SELECT l_suppkey, CAST(count(*) AS BIGINT) AS exact_cnt, true AS within_bound
         FROM lineitem GROUP BY 1
         ORDER BY exact_cnt DESC, l_suppkey LIMIT 10""",
    "a15_sketch_merge" ->
      """SELECT l_returnflag,
                CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_exact,
                true AS within_5pct
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "w9_locf" ->
      """SELECT user_id, event_id, CAST(floor(extract(epoch FROM ts)) AS BIGINT) AS ts_sec,
                event_type,
                last_value(CASE WHEN event_type = 'purchase' THEN round(value, 4) END IGNORE NULLS)
                  OVER (PARTITION BY user_id
                        ORDER BY CAST(floor(extract(epoch FROM ts)) AS BIGINT), event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_val
         FROM events WHERE user_id < 30
         ORDER BY user_id, ts_sec, event_id""",
    "c7_densify" ->
      """WITH ev AS (
           SELECT user_id, CAST(floor(extract(epoch FROM ts) / 3600) AS BIGINT) AS hour, value
           FROM events WHERE user_id < 20),
         hourly AS (
           SELECT user_id, hour, CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS v
           FROM ev GROUP BY 1, 2),
         spine AS (
           SELECT user_id, unnest(range(min(hour), max(hour) + 1)) AS hour
           FROM ev GROUP BY user_id)
         SELECT s.user_id, s.hour,
                coalesce(n, 0) AS n_events,
                coalesce(v, 0.0) AS value_sum
         FROM spine s LEFT JOIN hourly h ON s.user_id = h.user_id AND s.hour = h.hour
         ORDER BY 1, 2""",
    "f11_listagg" ->
      """SELECT o_orderpriority,
                string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
                CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_status
         FROM orders GROUP BY 1 ORDER BY 1""",
    "a11_pivot" ->
      """SELECT l_returnflag,
                round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS "F",
                round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS "O"
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "a12_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
                CAST(count(*) AS BIGINT) AS n,
                round(sum(o_totalprice), 2) AS total,
                CAST(CASE WHEN GROUPING(o_orderstatus) THEN 1 ELSE 0 END AS INT) AS g_status,
                CAST(CASE WHEN GROUPING(o_orderpriority) THEN 1 ELSE 0 END AS INT) AS g_priority
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
         ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority""",
    "a13_stats" ->
      """SELECT l_returnflag,
                round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
                round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
                round(stddev_samp(l_extendedprice), 4) AS sd_price,
                round(var_pop(l_quantity), 6) AS var_qty,
                round(regr_slope(l_extendedprice, l_quantity), 6) AS slope_price_on_qty
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "w7_range_frame" ->
      """SELECT user_id, event_id, CAST(floor(extract(epoch FROM ts)) AS BIGINT) AS ts_sec,
                round(sum(value) OVER (PARTITION BY user_id
                                       ORDER BY CAST(floor(extract(epoch FROM ts)) AS BIGINT)
                                       RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 4)
                  AS rolling_1h_value
         FROM events WHERE user_id < 30
         ORDER BY user_id, ts_sec, event_id""",
    "w8_ntile" ->
      """WITH spend AS (
           SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
           FROM orders GROUP BY 1)
         SELECT c_mktsegment, o_custkey, spend,
                CAST(ntile(4) OVER w AS INT) AS quartile,
                round(percent_rank() OVER w, 6) AS pct_rank,
                round(cume_dist() OVER w, 6) AS cume
         FROM spend JOIN customer ON o_custkey = c_custkey
         WHERE o_custkey < 300
         WINDOW w AS (PARTITION BY c_mktsegment ORDER BY spend, o_custkey)
         ORDER BY c_mktsegment, spend, o_custkey""",
    "f8_string" ->
      """SELECT doc_id,
                upper(substring(text, 1, 12)) AS head_upper,
                concat_ws('|', lang, source) AS tag,
                lpad(CAST(n_chars AS VARCHAR), 8, '0') AS padded_len,
                CAST(length(trim(text)) AS INT) AS trim_len,
                substring(regexp_replace(text, '[aeiou]', '', 'g'), 1, 20) AS devoweled_head,
                CAST(strpos(text, 'the') AS INT) AS pos_the,
                CAST(levenshtein(lang, source) AS INT) AS lev_lang_source,
                reverse(lang) AS rev_lang,
                translate(source, 'aeo', '430') AS leet_source
         FROM documents WHERE doc_id < 50 ORDER BY doc_id""",
    "f10_map" ->
      """WITH per AS (
           SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
           FROM events GROUP BY 1, 2)
         SELECT user_id,
                CAST(count(*) OVER (PARTITION BY user_id) AS INT) AS n_types,
                CAST(coalesce(max(CASE WHEN event_type = 'click' THEN cnt END)
                                OVER (PARTITION BY user_id), 0) AS BIGINT) AS click_cnt,
                event_type, cnt
         FROM per ORDER BY user_id, event_type""",
    "g3_unpivot" ->
      """WITH aggd AS (
           SELECT l_returnflag,
                  round(sum(l_quantity), 2) AS sum_qty,
                  round(sum(l_extendedprice), 2) AS sum_price,
                  round(sum(l_discount), 2) AS sum_disc
           FROM lineitem GROUP BY 1)
         SELECT l_returnflag, metric, amount FROM (
           SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS amount FROM aggd
           UNION ALL
           SELECT l_returnflag, 'sum_price' AS metric, sum_price AS amount FROM aggd
           UNION ALL
           SELECT l_returnflag, 'sum_disc' AS metric, sum_disc AS amount FROM aggd)
         ORDER BY l_returnflag, metric""",
    "o3_top_limit" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
         FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "w6_lead_lag" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS VARCHAR) AS o_orderdate,
                coalesce(lag(o_orderkey, 1) OVER w, -1) AS prev_order,
                coalesce(lead(o_orderkey, 1) OVER w, -1) AS next_order,
                CAST(datediff('day', lag(o_orderdate, 1) OVER w, o_orderdate) AS INT) AS days_since_prev
         FROM orders WHERE o_custkey < 50
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderdate, o_orderkey""",
    "u1_set_ops" ->
      """WITH auto AS (SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'),
              bldg AS (SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING')
         SELECT c_nationkey, 'union' AS op FROM (SELECT c_nationkey FROM auto UNION SELECT c_nationkey FROM bldg)
         UNION ALL
         SELECT c_nationkey, 'intersect' AS op FROM (SELECT c_nationkey FROM auto INTERSECT SELECT c_nationkey FROM bldg)
         UNION ALL
         SELECT c_nationkey, 'except' AS op FROM (SELECT c_nationkey FROM auto EXCEPT SELECT c_nationkey FROM bldg)
         ORDER BY op, c_nationkey""",
    "u3_bag_set_ops" ->
      """WITH auto AS (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'),
              bldg AS (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'),
              ia AS (SELECT c_nationkey FROM auto INTERSECT ALL SELECT c_nationkey FROM bldg),
              ea AS (SELECT c_nationkey FROM auto EXCEPT ALL SELECT c_nationkey FROM bldg)
         SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n, 'intersect_all' AS op
         FROM ia GROUP BY 1
         UNION ALL
         SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n, 'except_all' AS op
         FROM ea GROUP BY 1
         ORDER BY op, c_nationkey""",
    "a10_approx_distinct" ->
      """SELECT l_returnflag,
                CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_exact,
                true AS within_5pct
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "w5_running_total" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS VARCHAR) AS o_orderdate,
                round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                              ORDER BY o_orderdate, o_orderkey
                                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                  AS running_total
         FROM orders WHERE o_custkey < 50
         ORDER BY o_custkey, o_orderdate, o_orderkey""",
    "a8_percentile" ->
      """SELECT l_returnflag,
                round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 4) AS median_qty,
                round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9), 4) AS p90_price
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "a9_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
                CAST(count(*) AS BIGINT) AS n,
                round(sum(o_totalprice), 2) AS total,
                CAST(CASE WHEN GROUPING(o_orderstatus) THEN 1 ELSE 0 END AS INT) AS g_status,
                CAST(CASE WHEN GROUPING(o_orderpriority) THEN 1 ELSE 0 END AS INT) AS g_priority
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority""",
    "w4_topn_group" ->
      """SELECT o_orderstatus, CAST(rnk AS INT) AS rnk, o_orderkey,
                round(o_totalprice, 2) AS price
         FROM (SELECT o_orderstatus, o_orderkey, o_totalprice,
                      row_number() OVER (PARTITION BY o_orderstatus
                                         ORDER BY o_totalprice DESC, o_orderkey) AS rnk
               FROM orders)
         WHERE rnk <= 3 ORDER BY o_orderstatus, rnk""",
    "x9_parts_supplier" ->
      """SELECT p_brand, p_type, p_size, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         FROM part JOIN lineitem ON p_partkey = l_partkey
         WHERE p_size IN (1, 5, 9, 13)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY 1, 2, 3
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
         LIMIT 50""",
    "x10_waiting_suppliers" ->
      """SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
         FROM supplier s
         JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
         JOIN orders o ON o.o_orderkey = l1.l_orderkey
         WHERE o.o_orderstatus = 'F'
           AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
         GROUP BY s.s_name
         ORDER BY numwait DESC, s.s_name
         LIMIT 20""",
    "x11_volume_shipping" ->
      """SELECT supp_nation, cust_nation, CAST(l_year AS INT) AS l_year,
                CAST(sum(volume_cp) AS BIGINT) AS revenue_cp
         FROM (
           SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                  year(l.l_shipdate) AS l_year,
                  CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS volume_cp
           FROM supplier s
           JOIN lineitem l ON s.s_suppkey = l.l_suppkey
           JOIN orders o ON o.o_orderkey = l.l_orderkey
           JOIN customer c ON c.c_custkey = o.o_custkey
           JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
           JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
           WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
             AND l.l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
         ) shipping
         GROUP BY supp_nation, cust_nation, l_year
         ORDER BY supp_nation, cust_nation, l_year""",
    "x12_market_share" ->
      """SELECT CAST(o_year AS INT) AS o_year,
                round(CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume_cp ELSE 0 END) AS DOUBLE)
                      / CAST(sum(volume_cp) AS DOUBLE), 6) AS mkt_share
         FROM (
           SELECT year(o.o_orderdate) AS o_year,
                  CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS volume_cp,
                  n2.n_name AS nation
           FROM part p
           JOIN lineitem l ON p.p_partkey = l.l_partkey
           JOIN supplier s ON s.s_suppkey = l.l_suppkey
           JOIN orders o ON o.o_orderkey = l.l_orderkey
           JOIN customer c ON c.c_custkey = o.o_custkey
           JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
           JOIN region r ON n1.n_regionkey = r.r_regionkey
           JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
           WHERE r.r_name = 'EUROPE'
             AND p.p_type = 'PROMO'
             AND o.o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
         ) all_nations
         GROUP BY o_year
         ORDER BY o_year""",
    "x13_forecast_revenue" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                          * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_cd
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07
           AND l_quantity < 24""",
    "x14_promo_revenue" ->
      """SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN volume_cp ELSE 0 END) AS DOUBLE)
                      / CAST(sum(volume_cp) AS DOUBLE), 6) AS promo_revenue_pct
         FROM (
           SELECT p.p_type,
                  CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS volume_cp
           FROM lineitem l
           JOIN part p ON p.p_partkey = l.l_partkey
           WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
             AND l.l_shipdate < TIMESTAMP '1996-10-01') promo""",
    "x15_top_supplier" ->
      """WITH rev AS (
           SELECT l_suppkey AS supplier_no,
                  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
                    AS total_revenue_cp
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY l_suppkey)
         SELECT s.s_suppkey, s.s_name, r.total_revenue_cp
         FROM supplier s
         JOIN rev r ON s.s_suppkey = r.supplier_no
         WHERE r.total_revenue_cp = (SELECT max(total_revenue_cp) FROM rev)
         ORDER BY s.s_suppkey""",
    "x16_profit" ->
      """SELECT nation, CAST(o_year AS INT) AS o_year, CAST(sum(amount_cp) AS BIGINT) AS profit_cp
         FROM (
           SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
                  CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
                    - CAST(round(p.p_retailprice * 100) AS BIGINT) * 100
                      * CAST(l.l_quantity AS BIGINT) AS amount_cp
           FROM part p
           JOIN lineitem l ON p.p_partkey = l.l_partkey
           JOIN supplier s ON s.s_suppkey = l.l_suppkey
           JOIN orders o ON o.o_orderkey = l.l_orderkey
           JOIN nation n ON s.s_nationkey = n.n_nationkey
           WHERE p.p_name LIKE '%red%'
         ) profit
         GROUP BY nation, o_year
         ORDER BY nation, o_year DESC""",
    "x17_order_histogram" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
         FROM (
           SELECT c.c_custkey, CAST(count(o.o_orderkey) AS INT) AS c_count
           FROM customer c
           LEFT OUTER JOIN orders o
             ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
           GROUP BY c.c_custkey) c_orders
         GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC""",
    "x18_disjunctive" ->
      """SELECT CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                          * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT)
                  AS revenue_cp
         FROM lineitem l
         JOIN part p ON p.p_partkey = l.l_partkey
         WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
                 AND l.l_quantity BETWEEN 1 AND 11)
            OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
                 AND l.l_quantity BETWEEN 10 AND 20)
            OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
                 AND l.l_quantity BETWEEN 20 AND 30)""",
    "x19_min_cost_supplier" ->
      """WITH cost AS (
           SELECT l.l_partkey, l.l_suppkey,
                  CAST(min(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS min_price_c
           FROM lineitem l
           GROUP BY l.l_partkey, l.l_suppkey)
         SELECT round(s.s_acctbal, 2) AS acctbal, s.s_name, n.n_name,
                p.p_partkey, p.p_name, c.min_price_c
         FROM part p
         JOIN cost c ON c.l_partkey = p.p_partkey
         JOIN supplier s ON s.s_suppkey = c.l_suppkey
         JOIN nation n ON n.n_nationkey = s.s_nationkey
         JOIN region r ON r.r_regionkey = n.n_regionkey
         WHERE p.p_size = 15 AND r.r_name = 'EUROPE'
           AND c.min_price_c = (
             SELECT min(c2.min_price_c)
             FROM cost c2
             JOIN supplier s2 ON s2.s_suppkey = c2.l_suppkey
             JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
             JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
             WHERE c2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
         ORDER BY acctbal DESC, n.n_name, s.s_name, p.p_partkey
         LIMIT 100""",
    "x20_priority_exists" ->
      """SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
         FROM orders o
         WHERE o.o_orderdate >= TIMESTAMP '1996-07-01' AND o.o_orderdate < TIMESTAMP '1996-10-01'
           AND EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
         GROUP BY o.o_orderpriority
         ORDER BY o.o_orderpriority""",
    "x21_important_parts" ->
      """WITH pvalue AS (
           SELECT l.l_partkey,
                  CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * CAST(l.l_quantity AS BIGINT) AS value_c
           FROM lineitem l
           JOIN supplier s ON s.s_suppkey = l.l_suppkey
           JOIN nation n ON n.n_nationkey = s.s_nationkey
           WHERE n.n_name = 'NATION_7')
         SELECT l_partkey, CAST(sum(value_c) AS BIGINT) AS value_c
         FROM pvalue
         GROUP BY l_partkey
         HAVING CAST(sum(value_c) AS DOUBLE) >
                (SELECT CAST(sum(value_c) AS DOUBLE) * 0.001 FROM pvalue)
         ORDER BY value_c DESC, l_partkey""",
    "x22_ship_delay_classes" ->
      """SELECT delay_class,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                              THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                              THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM (
           SELECT o.o_orderpriority,
                  CASE WHEN l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY THEN 'FAST'
                       WHEN l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY THEN 'NORMAL'
                       ELSE 'SLOW' END AS delay_class
           FROM orders o
           JOIN lineitem l ON l.l_orderkey = o.o_orderkey
           WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
             AND l.l_shipdate < TIMESTAMP '1997-01-01') t
         GROUP BY delay_class
         ORDER BY delay_class""",
    "x23_small_qty_revenue" ->
      """SELECT CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                  AS small_qty_revenue_c
         FROM lineitem l
         JOIN part p ON p.p_partkey = l.l_partkey
         WHERE p.p_brand = 'Brand#23'
           AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                               FROM lineitem l2
                               WHERE l2.l_partkey = l.l_partkey)""",
    "x24_excess_suppliers" ->
      """SELECT s.s_suppkey, s.s_name
         FROM supplier s
         JOIN nation n ON n.n_nationkey = s.s_nationkey
         WHERE n.n_name = 'NATION_3'
           AND s.s_suppkey IN (
             SELECT l.l_suppkey
             FROM lineitem l
             WHERE l.l_partkey IN (SELECT p_partkey FROM part
                                   WHERE p_name LIKE 'red%')
               AND l.l_shipdate >= TIMESTAMP '1996-01-01'
               AND l.l_shipdate < TIMESTAMP '1997-01-01'
             GROUP BY l.l_suppkey, l.l_partkey
             HAVING sum(l.l_quantity) > 0.5 * (
               SELECT sum(l2.l_quantity) FROM lineitem l2
               WHERE l2.l_partkey = l.l_partkey
                 AND l2.l_shipdate >= TIMESTAMP '1996-01-01'
                 AND l2.l_shipdate < TIMESTAMP '1997-01-01'))
         ORDER BY s.s_suppkey""",
    "x25_idle_customers" ->
      """WITH pot AS (
           SELECT c.c_custkey, CAST(c.c_nationkey AS INT) AS cntry,
                  CAST(round(c.c_acctbal * 100) AS BIGINT) AS acctbal_c
           FROM customer c
           WHERE c.c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
         SELECT cntry, CAST(count(*) AS BIGINT) AS numcust,
                CAST(sum(acctbal_c) AS BIGINT) AS totacctbal_c
         FROM pot p
         WHERE p.acctbal_c > (SELECT avg(CAST(p2.acctbal_c AS DOUBLE))
                              FROM pot p2 WHERE p2.acctbal_c > 0)
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = p.c_custkey
                             AND o.o_orderdate >= TIMESTAMP '1999-01-01')
         GROUP BY cntry
         ORDER BY cntry""",
    "a22_equifreq_bins" ->
      """WITH b AS (SELECT quantile_cont(o_totalprice, 0.25) AS q1,
                           quantile_cont(o_totalprice, 0.5)  AS q2,
                           quantile_cont(o_totalprice, 0.75) AS q3
                    FROM orders)
         SELECT CASE WHEN o_totalprice < q1 THEN 1
                     WHEN o_totalprice < q2 THEN 2
                     WHEN o_totalprice < q3 THEN 3
                     ELSE 4 END AS bucket,
                CAST(count(*) AS BIGINT) AS n,
                round(min(q1), 4) AS q1, round(min(q2), 4) AS q2, round(min(q3), 4) AS q3
         FROM orders CROSS JOIN b
         GROUP BY 1 ORDER BY 1""",
    "a21_group_by_all" ->
      """SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                round(sum(o_totalprice), 2) AS total
         FROM orders
         GROUP BY ALL
         ORDER BY o_orderstatus, o_orderpriority""",
    "o4_offset" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS price
         FROM orders
         ORDER BY o_totalprice DESC, o_orderkey
         LIMIT 20 OFFSET 40""",
    "o5_keyset" ->
      """WITH cursor AS (
           SELECT o_totalprice AS last_price, o_orderkey AS last_key
           FROM orders ORDER BY o_totalprice DESC, o_orderkey
           LIMIT 1 OFFSET 39)
         SELECT o_orderkey, round(o_totalprice, 2) AS price
         FROM orders, cursor
         WHERE o_totalprice < last_price
            OR (o_totalprice = last_price AND o_orderkey > last_key)
         ORDER BY o_totalprice DESC, o_orderkey
         LIMIT 20""",
    "j11_nullsafe_join" ->
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n_cust
         FROM customer JOIN nation
           ON nullif(c_nationkey, 3) IS NOT DISTINCT FROM nullif(n_nationkey, 3)
         GROUP BY 1 ORDER BY 1""",
    "x7_exists" ->
      """SELECT c_custkey, c_mktsegment
         FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "x8_not_exists" ->
      """SELECT c_custkey, c_mktsegment
         FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderpriority = '1-URGENT')
           AND c_custkey < 500
         ORDER BY c_custkey""",
    "a20_mode" ->
      """WITH c AS (SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS cnt
                    FROM orders GROUP BY 1, 2),
              r AS (SELECT o_orderstatus, o_orderpriority, cnt,
                           row_number() OVER (PARTITION BY o_orderstatus
                                              ORDER BY cnt DESC, o_orderpriority) AS rk,
                           sum(cnt) OVER (PARTITION BY o_orderstatus) AS nr
                    FROM c)
         SELECT o_orderstatus, o_orderpriority AS modal_priority, cnt AS modal_count,
                CAST(nr AS BIGINT) AS n_rows
         FROM r WHERE rk = 1 ORDER BY o_orderstatus""",
    "a19_histogram" ->
      """WITH b AS (SELECT CAST(floor(o_totalprice / 50000) AS INT) AS bucket,
                           CAST(count(*) AS BIGINT) AS n
                    FROM orders GROUP BY 1),
              t AS (SELECT sum(n) AS tt FROM b)
         SELECT bucket, CAST(bucket * 50000 AS DOUBLE) AS lo,
                CAST((bucket + 1) * 50000 AS DOUBLE) AS hi, n,
                round(n / tt, 4) AS pct,
                round(sum(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) / tt, 4) AS cum_pct
         FROM b CROSS JOIN t ORDER BY bucket""",
    "x6_large_orders" ->
      """SELECT c_name, c_custkey, o_orderkey,
                strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                round(o_totalprice, 2) AS price, sum(l_quantity) AS total_qty
         FROM customer JOIN orders ON o_custkey = c_custkey
                       JOIN lineitem ON l_orderkey = o_orderkey
         WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                              GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
         GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
         ORDER BY price DESC, o_orderkey LIMIT 100""",
    "w4c_topn_native" ->
      """SELECT o_orderstatus, o_orderkey, round(o_totalprice, 2) AS price
         FROM (SELECT o_orderstatus, o_orderkey, o_totalprice,
                      row_number() OVER (PARTITION BY o_orderstatus
                                         ORDER BY o_totalprice DESC, o_orderkey) AS rnk
               FROM orders)
         WHERE rnk <= 3 ORDER BY o_orderstatus, price DESC, o_orderkey""",
    "g2_posexplode" ->
      """SELECT doc_id,
                CAST(unnest(range(0, len(string_split(text, ' ')))) AS INT) AS pos,
                unnest(string_split(text, ' ')) AS token
         FROM documents WHERE doc_id < 20
         ORDER BY doc_id, pos""",
    "j6_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "j7_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND year(o_orderdate) = 1995)
         ORDER BY c_custkey""",
    "a7_rollup" ->
      """SELECT o_orderstatus, o_orderpriority,
                CAST(count(*) AS BIGINT) AS n,
                round(sum(o_totalprice), 2) AS total,
                CAST(CASE WHEN GROUPING(o_orderstatus) THEN 1 ELSE 0 END AS INT) AS g_status,
                CAST(CASE WHEN GROUPING(o_orderpriority) THEN 1 ELSE 0 END AS INT) AS g_priority
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority""",
    "s2_scan" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey < 3 ORDER BY n_nationkey",
    "s8_view" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, round(sum(o_totalprice), 2) AS total
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "p1_projection" ->
      """SELECT l_orderkey AS orderkey, l_linenumber AS linenumber, l_quantity AS qty,
                l_extendedprice AS price,
                round(l_extendedprice * (1 - l_discount), 4) AS disc_price,
                round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS charge,
                l_returnflag AS returnflag
         FROM lineitem WHERE l_orderkey < 1000 ORDER BY orderkey, linenumber""",
    "p2_nested_struct" ->
      """SELECT o_orderkey, o_orderstatus AS status, round(o_totalprice, 2) AS price
         FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""",
    "p3_array" ->
      """SELECT doc_id, w[1] AS first_word, w[len(w)] AS last_word, CAST(len(w) AS INT) AS n_words
         FROM (SELECT doc_id, str_split(text, ' ') AS w FROM documents WHERE doc_id < 100)
         ORDER BY doc_id""",
    "p4_null_filter" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n FROM lineitem
         WHERE l_quantity IS NOT NULL GROUP BY l_returnflag ORDER BY l_returnflag""",
    "p5_range" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, round(sum(l_quantity), 2) AS qty_sum
         FROM lineitem WHERE l_quantity BETWEEN 10 AND 20 GROUP BY l_returnflag ORDER BY l_returnflag""",
    "p6_ts_between" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events
         WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'
         GROUP BY event_type ORDER BY event_type""",
    "p7_eq_filter" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n FROM orders
         WHERE o_orderstatus = 'F' GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "p8_date_eq" ->
      """SELECT o_orderkey, o_orderpriority, round(o_totalprice, 2) AS price FROM orders
         WHERE CAST(o_orderdate AS DATE) = DATE '1995-06-15' ORDER BY o_orderkey""",
    "p9_case" ->
      """SELECT CASE WHEN o_totalprice > 300000 THEN 'huge'
                     WHEN o_totalprice > 150000 THEN 'large'
                     WHEN o_totalprice > 50000 THEN 'medium'
                     ELSE 'small' END AS bucket,
                CAST(count(*) AS BIGINT) AS n
         FROM orders GROUP BY 1 ORDER BY 1""",
    "p10_coalesce" ->
      """SELECT coalesce(nullif(l_returnflag, 'N'), 'X') AS flag, CAST(count(*) AS BIGINT) AS n
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "p11_cast" ->
      """SELECT o_orderkey, CAST(trunc(o_totalprice) AS INT) AS price_int, CAST(o_orderkey AS VARCHAR) AS key_str,
                42 AS answer, 'graft' AS tag
         FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""",
    "p12_schema_guard" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, 0.0 AS max_comment_len
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "d1_dedup_subset" ->
      "SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type",
    "d2_distinct" ->
      "SELECT DISTINCT c_nationkey, c_mktsegment FROM customer ORDER BY c_nationkey, c_mktsegment",
    "j1_multikey_join" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, round(sum(l_extendedprice), 2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey AND l_linestatus = o_orderstatus
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "j2_date_cast_join" ->
      """WITH cal AS (SELECT CAST(gs AS DATE) AS full_date,
                             CAST(year(CAST(gs AS DATE)) AS INT) AS year,
                             CAST(month(CAST(gs AS DATE)) AS INT) AS month
                      FROM generate_series(DATE '1995-01-01', DATE '2001-12-31', INTERVAL 1 DAY) t(gs))
         SELECT year, month, CAST(count(*) AS BIGINT) AS n
         FROM orders JOIN cal ON CAST(o_orderdate AS DATE) = cal.full_date
         GROUP BY year, month ORDER BY year, month""",
    "j3_role_playing" ->
      """WITH cal AS (SELECT CAST(gs AS DATE) AS full_date, CAST(year(CAST(gs AS DATE)) AS INT) AS year
                      FROM generate_series(DATE '1995-01-01', DATE '2001-12-31', INTERVAL 1 DAY) t(gs))
         SELECT c1.year AS order_year, c2.year AS ship_year, CAST(count(*) AS BIGINT) AS n
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN cal c1 ON CAST(o_orderdate AS DATE) = c1.full_date
         JOIN cal c2 ON CAST(l_shipdate AS DATE) = c2.full_date
         GROUP BY order_year, ship_year ORDER BY order_year, ship_year""",
    "j5_fact_dim" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n, round(avg(o_totalprice), 2) AS avg_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "a1_agg" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_price, round(avg(l_discount), 4) AS avg_disc,
                CAST(count(*) AS BIGINT) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "a2_multikey_group" ->
      """SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n, round(sum(c_acctbal), 2) AS bal
         FROM customer GROUP BY c_nationkey, c_mktsegment ORDER BY c_nationkey, c_mktsegment""",
    "a3_computed_group" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS order_year, CAST(count(*) AS BIGINT) AS n
         FROM orders GROUP BY 1 ORDER BY 1""",
    "a4_bool_rate" ->
      """SELECT l_returnflag, round(avg(CAST(l_discount > 0.05 AS INT)) * 100, 1) AS high_disc_pct
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "a5_count" ->
      "SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem",
    "a6_distinct_agg" ->
      """SELECT l_returnflag, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "w1_rownum_global" ->
      """SELECT CAST(row_number() OVER (ORDER BY o_orderkey) AS INT) AS rn, o_orderkey
         FROM orders WHERE o_totalprice > 400000 ORDER BY rn""",
    "w2_rownum_dim" ->
      """SELECT CAST(row_number() OVER (ORDER BY n_name, n_nationkey) AS INT) AS nation_key, n_name, n_nationkey
         FROM nation ORDER BY nation_key""",
    "w3_pct_of_total" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                round(count(*) * 100.0 / sum(count(*)) OVER (), 1) AS pct
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "g1_explode" ->
      """SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents
         WHERE doc_id < 20 ORDER BY doc_id, token""",
    "f1_ts_convert" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, epoch_ms(ts) AS ts_ms,
                CAST(epoch_us(ts) // 1000000 AS BIGINT) AS ts_sec,
                strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
         FROM events WHERE event_id < 100 ORDER BY event_id""",
    "f2_date_extract" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS y, CAST(quarter(o_orderdate) AS INT) AS q,
                CAST(month(o_orderdate) AS INT) AS m, CAST(day(o_orderdate) AS INT) AS dom,
                CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow, CAST(weekofyear(o_orderdate) AS INT) AS woy
         FROM orders WHERE o_orderkey < 300 ORDER BY o_orderkey""",
    "f3_date_format" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS ym, CAST(count(*) AS BIGINT) AS n
         FROM orders GROUP BY 1 ORDER BY 1""",
    "f4_clock" ->
      "SELECT '2024-06-01 12:00:00' AS now_str, '2024-06-01' AS today_str",
    "f5_math" ->
      """SELECT l_returnflag,
                round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS charge,
                round(sum(abs(l_quantity - 25)), 2) AS qty_dev,
                round(max(l_extendedprice / 100.0), 2) AS max_centi
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "f6_isin" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n FROM customer
         WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "f7_bool_expr" ->
      """SELECT CAST(l_quantity > 25 AS INT) AS big_qty, CAST(l_returnflag = 'R' AS INT) AS returned,
                CAST(count(*) AS BIGINT) AS n
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "f9_json" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_sum
         FROM events GROUP BY event_type ORDER BY event_type""",
    "o1_sort_agg" ->
      """SELECT o_orderpriority, round(sum(o_totalprice), 2) AS total
         FROM orders GROUP BY o_orderpriority ORDER BY total DESC, o_orderpriority""",
    "o2_case_rank_sort" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                CASE o_orderpriority WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
                     WHEN '3-MEDIUM' THEN 3 WHEN '5-LOW' THEN 4 ELSE 5 END AS rank
         FROM orders GROUP BY o_orderpriority ORDER BY rank"""
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s2_scan" -> s2Scan,
    "s8_view" -> s8View,
    "p1_projection" -> p1Projection,
    "p2_nested_struct" -> p2NestedStruct,
    "p3_array" -> p3Array,
    "p4_null_filter" -> p4NullFilter,
    "p5_range" -> p5Range,
    "p6_ts_between" -> p6TsBetween,
    "p7_eq_filter" -> p7EqFilter,
    "p8_date_eq" -> p8DateEq,
    "p9_case" -> p9Case,
    "p10_coalesce" -> p10Coalesce,
    "p11_cast" -> p11Cast,
    "p12_schema_guard" -> p12SchemaGuard,
    "d1_dedup_subset" -> d1DedupSubset,
    "d2_distinct" -> d2Distinct,
    "j1_multikey_join" -> j1MultiKeyJoin,
    "j2_date_cast_join" -> j2DateCastJoin,
    "j3_role_playing" -> j3RolePlaying,
    "j5_fact_dim" -> j5FactDim,
    "a1_agg" -> a1Agg,
    "a2_multikey_group" -> a2MultiKey,
    "a3_computed_group" -> a3ComputedGroup,
    "a4_bool_rate" -> a4BoolRate,
    "a5_count" -> a5Count,
    "a6_distinct_agg" -> a6DistinctAgg,
    "w1_rownum_global" -> w1RowNumberGlobal,
    "w2_rownum_dim" -> w2RowNumberDim,
    "w3_pct_of_total" -> w3PctOfTotal,
    "g1_explode" -> g1Explode,
    "f1_ts_convert" -> f1TsConvert,
    "f2_date_extract" -> f2DateExtract,
    "f3_date_format" -> f3DateFormat,
    "f4_clock" -> f4Clock,
    "f5_math" -> f5Math,
    "f6_isin" -> f6IsIn,
    "f7_bool_expr" -> f7BoolExpr,
    "f9_json" -> f9Json,
    "o1_sort_agg" -> o1SortAgg,
    "o2_case_rank_sort" -> o2CaseRankSort,
    "j6_semi_join" -> j6SemiJoin,
    "j7_anti_join" -> j7AntiJoin,
    "a7_rollup" -> a7Rollup,
    "a8_percentile" -> a8Percentile,
    "a9_cube" -> a9Cube,
    "w4_topn_group" -> w4TopNGroup,
    "g2_posexplode" -> g2Posexplode,
    "u1_set_ops" -> u1SetOps,
    "a10_approx_distinct" -> a10ApproxDistinct,
    "w5_running_total" -> w5RunningTotal,
    "w6_lead_lag" -> w6LeadLag,
    "o3_top_limit" -> o3TopLimit,
    "a11_pivot" -> a11Pivot,
    "a12_grouping_sets" -> a12GroupingSets,
    "a13_stats" -> a13Stats,
    "w7_range_frame" -> w7RangeFrame,
    "w8_ntile" -> w8Ntile,
    "f8_string" -> f8String,
    "f10_map" -> f10Map,
    "g3_unpivot" -> g3Unpivot,
    "w9_locf" -> w9Locf,
    "c7_densify" -> c7Densify,
    "f11_listagg" -> f11Listagg,
    "w4b_topn_agg" -> w4bTopNAgg,
    "w4c_topn_native" -> w4cTopNNative,
    "a19_histogram" -> a19Histogram,
    "a20_mode" -> a20Mode,
    "j11_nullsafe_join" -> j11NullsafeJoin,
    "a21_group_by_all" -> a21GroupByAll,
    "a22_equifreq_bins" -> a22EquifreqBins,
    "x9_parts_supplier" -> x9PartsSupplier,
    "x10_waiting_suppliers" -> x10WaitingSuppliers,
    "x11_volume_shipping" -> x11VolumeShipping,
    "x12_market_share" -> x12MarketShare,
    "x13_forecast_revenue" -> x13ForecastRevenue,
    "x14_promo_revenue" -> x14PromoRevenue,
    "x15_top_supplier" -> x15TopSupplier,
    "x16_profit" -> x16Profit,
    "x17_order_histogram" -> x17OrderHistogram,
    "x18_disjunctive" -> x18Disjunctive,
    "x19_min_cost_supplier" -> x19MinCostSupplier,
    "x20_priority_exists" -> x20PriorityExists,
    "x21_important_parts" -> x21ImportantParts,
    "x22_ship_delay_classes" -> x22ShipDelayClasses,
    "x23_small_qty_revenue" -> x23SmallQtyRevenue,
    "x24_excess_suppliers" -> x24ExcessSuppliers,
    "x25_idle_customers" -> x25IdleCustomers,
    "o4_offset" -> o4Offset,
    "o5_keyset" -> o5Keyset,
    "u3_bag_set_ops" -> u3BagSetOps,
    "x7_exists" -> x7Exists,
    "x8_not_exists" -> x8NotExists,
    "x6_large_orders" -> x6LargeOrders,
    "a14_approx_quantile" -> a14ApproxQuantile,
    "a15_sketch_merge" -> a15SketchMerge,
    "a18_count_min" -> a18CountMin,
    "j8_full_outer" -> j8FullOuter,
    "f12_variant" -> f12Variant,
    "f13_try_arith" -> f13TryArith,
    "x1_shipping_priority" -> x1ShippingPriority,
    "x2_region_volume" -> x2RegionVolume,
    "x3_returned_customers" -> x3ReturnedCustomers,
    "x4_correlated_scalar" -> x4CorrelatedScalar,
    "x5_lateral" -> x5Lateral,
    "w10_rank_family" -> w10RankFamily,
    "a16_min_max_by" -> a16MinMaxBy,
    "a17_bool_agg" -> a17BoolAgg,
    "f14_array" -> f14Array,
    "f15_date_arith" -> f15DateArith,
    "u2_union_by_name" -> u2UnionByName,
    "f16_regex" -> f16Regex,
    "g4_pagerank" -> g4Pagerank,
    "g5_label_prop" -> g5LabelProp
  )
}
