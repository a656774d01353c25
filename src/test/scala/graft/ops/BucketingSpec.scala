package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

class BucketingSpec extends SparkSuite {

  import spark.implicits._

  test("compact merges a small-files directory to the byte-derived file count, rows intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val in = s"$dir/in"; val out = s"$dir/out"
    // simulate a micro-batch sink: 64 tiny files
    (0L until 10000L).map(i => (i, s"payload_$i")).toDF("id", "payload")
      .repartition(64).write.parquet(in)
    val total = new java.io.File(in).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val target = total / 4 + 1 // expect ~4 output files
    val (before, after, bytes) = Bucketing.compact(spark, in, out, target)
    assert(before === 64)
    assert(bytes === total)
    assert(after === math.ceil(total.toDouble / target).toInt, s"after=$after")
    assert(after <= 4)
    val a = spark.read.parquet(in).orderBy("id").collect()
    val b = spark.read.parquet(out).orderBy("id").collect()
    assert(a.length === 10000 && (a sameElements b))
  }

  test("compact collapses one batch partition's file spray, rows intact") {
    // a micro-batch landed in its own batch_id=<n> partition as many
    // small files; compact rewrites ONE partition without touching others
    val dir = java.nio.file.Files.createTempDirectory("graft_sinkcompact").toString
    val batch = (0L until 5000L).map(i => (i, i % 7)).toDF("event_id", "k")
      .repartition(32)
    batch.withColumn("batch_id", lit(0L))
      .write.mode("overwrite").partitionBy("batch_id").parquet(dir)
    val part = s"$dir/batch_id=0"
    val before = new java.io.File(part).listFiles().count(_.getName.endsWith(".parquet"))
    assert(before > 1, s"expected a file spray, got $before")
    val compacted = s"$dir/batch_id=0_compacted"
    val (b0, after, _) = Bucketing.compact(spark, part, compacted, Long.MaxValue)
    assert(b0 === before && after === 1)
    assert(spark.read.parquet(compacted).count() === 5000)
    assert(spark.read.parquet(compacted).agg(sum(col("event_id"))).head().getLong(0)
      === (0L until 5000L).sum)
  }
}
