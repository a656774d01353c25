package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for heavy-hitter keys — the manual counterpart to AQE
  * skew handling, for the operators AQE doesn't cover (aggregation
  * buffers, `collect_list`-style buildup on one key).
  *
  * Salted two-stage aggregation: rows are spread across
  * `saltBuckets` sub-keys (deterministic `pmod(xxhash64(cols), buckets)`
  * — not `rand()`, so re-runs and retries see identical placement), a
  * partial aggregate runs per (key, salt), then partials merge per key.
  * A key holding 10% of a 100 TB table becomes `saltBuckets` partial
  * states of 1/buckets the size each; the second shuffle carries one row
  * per (key, salt) — aggregate-sized, not data-sized.
  *
  * Only algebraic aggregates decompose this way (sum/count/min/max, and
  * avg as sum+count merged at the end) — which is why the API exposes
  * exactly those, instead of a generic `agg` that would silently break
  * on non-decomposable functions (median, collect_list).
  *
  * The `sk_salted_agg` CORRECTNESS entry holds the salted plan to the
  * plain single-shuffle groupBy's exact results.
  */
object Skew {

  /** Deterministic salt in [0, buckets): hash of the salt columns (NOT
    * the grouping key — salting the key's own hash would put every row
    * of one key in one bucket again). */
  def salt(buckets: Int, saltCols: Column*): Column =
    pmod(xxhash64(saltCols: _*), lit(buckets.toLong)).cast("int")

  /** Two-stage salted sum/count/min/max/avg over possibly-skewed keys.
    *
    * @param df        input
    * @param keyCols   grouping keys (the skewed dimension)
    * @param saltCols  columns spreading a hot key across buckets (a
    *                  unique-ish id, or the value column itself)
    * @param valueCol  column to aggregate
    * @param buckets   salt fan-out (≈ executor-core count is a good
    *                  default)
    * Output: keyCols ++ (sum_v, cnt_v, min_v, max_v, avg_v).
    */
  def saltedAgg(
      df: DataFrame,
      keyCols: Seq[String],
      saltCols: Seq[String],
      valueCol: String,
      buckets: Int = 32): DataFrame = {
    val keys = keyCols.map(col)
    df
      .withColumn("__salt", salt(buckets, saltCols.map(col): _*))
      .groupBy(keys :+ col("__salt"): _*)
      .agg(
        sum(col(valueCol)).alias("__sum"),
        count(col(valueCol)).alias("__cnt"),
        min(col(valueCol)).alias("__min"),
        max(col(valueCol)).alias("__max"))
      .groupBy(keys: _*)
      .agg(
        sum(col("__sum")).alias("sum_v"),
        sum(col("__cnt")).alias("cnt_v"),
        min(col("__min")).alias("min_v"),
        max(col("__max")).alias("max_v"))
      .withColumn("avg_v", col("sum_v") / col("cnt_v"))
  }
}
