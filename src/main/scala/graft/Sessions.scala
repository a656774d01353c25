package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory.
  *
  * Every entry point (Verify, Bench, Pipeline, tests) builds its session
  * here so session-level flags live in exactly one place (round-1 ADVICE:
  * `spark.sql.legacy.parquet.nanosAsLong` was buried inside a reader and
  * made table reads ordering-dependent).
  *
  * Scale notes (100 TB / 1000-executor target):
  *  - shuffle partitions follow the core count locally; on a real cluster
  *    AQE coalescing (`spark.sql.adaptive.enabled`, on by default in
  *    Spark 4) re-sizes post-shuffle partitions, so the static number only
  *    sets the upper bound for the map side.
  *  - the session timezone is pinned UTC so timestamp→string/date
  *    conversions are deterministic across environments.
  *  - scan splits (`spark.sql.files.maxPartitionBytes`, 128 MB) and AQE
  *    coalescing (`parallelismFirst=true`, 64 MB advisory size) keep
  *    Spark's own defaults.
  */
object Sessions {

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Shuffle-partition count. Defaults to the core count — right for the
    * sf≤0.1 dev/bench loop where partitions stay small. For large-sf
    * ladder runs (sf1/sf10 locally; any real cluster) override with
    * `SPARK_GRAFT_SHUFFLE_PARTITIONS` sized so a post-shuffle partition
    * of the LARGEST shuffle fits in executor memory (~128–200 MB of rows
    * per partition) — with AQE on, oversizing is cheap (coalescing merges
    * small partitions at runtime) while undersizing spills: the sf10 j1
    * join went 16.8× for 10× data purely from sort-spill at
    * partitions=cpus. */
  def shufflePartitions: String =
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)

  def local(appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .appName(appName)
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Legacy data generations stored events.ts as INT64 TIMESTAMP(NANOS),
      // which Spark's vectorized reader rejects without this flag; with it,
      // NANOS columns load as Long and Tables.events derives the epochs.
      // Current data is timestamp[us] (flag is a no-op there) — kept so
      // either generation loads.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // partitioned overwrites replace only the partitions present in the
      // incoming batch (idempotent re-runs), never the whole table
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // storage-partitioned joins are a default capability: scans of
      // BUCKETED snapshot tables key-group and co-bucketed joins elide
      // their exchanges; scans of everything else are unaffected. Set
      // session-wide so the whole corpus runs (and is verified) under
      // one planner configuration.
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      // catalog tables (bucketed-join demo) land in a temp warehouse,
      // never the working directory
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
