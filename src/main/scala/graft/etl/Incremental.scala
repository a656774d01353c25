package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental aggregate maintenance: keep a persisted, partitioned
  * aggregate table current by recomputing ONLY the partitions a new
  * batch touches (reference analog: the daily Glue batch re-deriving
  * gold from the day's silver).
  *
  * The contract that makes this safe is the same one the silver layer
  * uses: aggregates are partitioned by the batch's natural key (a date),
  * each refresh OVERWRITES exactly the partitions present in the batch
  * via dynamic partition overwrite, and the result equals a full
  * recompute as long as every row of a partition arrives in the batch
  * that rewrites it (daily batches by construction). At 100 TB this is
  * the difference between re-aggregating one day and re-aggregating the
  * table: cost tracks the DELTA, not the history.
  */
object Incremental {

  /** Recompute the aggregate for exactly the partitions present in
    * `batch` and land them over the previous values. `aggregate` maps a
    * (partition-complete) slice of raw rows to its aggregate rows and
    * must carry `partitionCol` through. Returns the refreshed table. */
  def refreshPartitionedAgg(
      spark: SparkSession,
      batch: DataFrame,
      path: String,
      partitionCol: String)(aggregate: DataFrame => DataFrame): DataFrame = {
    aggregate(batch)
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(path)
    spark.read.parquet(path)
  }
}
