package graft.tools

import graft.Sessions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materialize a larger scale factor ON DISK by replicating an existing
  * sf directory with key remapping — so the bench sees what an
  * in-memory union of copies structurally cannot: real file counts,
  * parquet footer/page IO, shuffle spill and memory pressure at the
  * bigger SF.
  *
  * Replication preserves the relational shape instead of cloning rows:
  *
  *  - Primary keys are offset per replica (`key + r·max`) so they stay
  *    UNIQUE (10 exact copies of o_orderkey would break every join
  *    cardinality and dedup semantics).
  *  - Foreign keys follow their parent's offset (lineitem→orders,
  *    orders→customer) or intentionally keep referencing the original
  *    dim rows (lineitem→part/supplier at ×1: more facts per dim member
  *    is exactly how real warehouses grow — and nation/region stay
  *    fixed like the real world's 25 nations).
  *  - documents get per-replica DISTINCT filler tokens (~30% of the
  *    token count, values derived from doc_id×position) so replicas
  *    fall BELOW the near-dup Jaccard threshold: per-capita dup/near-dup
  *    density matches the source corpus rather than every doc gaining 9
  *    artificial near-copies (which would rescale the dedup benches'
  *    candidate structure, not their data volume).
  *  - embeddings are cyclically shifted per replica — distinct vectors
  *    with the source's exact norm/component distribution, no
  *    degenerate sim≈1 clusters.
  *
  * Usage: `runMain graft.tools.MakeSf <srcDir> <dstDir> [factor]`
  * (default factor 10: sf0.1 → sf1).
  */
object MakeSf {

  private def maxOf(df: DataFrame, c: String): Long =
    df.agg(max(col(c))).head.getLong(0) + 1

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Sessions.local("graft-makesf")
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def replicas(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(factor).toDF("__r"))
    def write(df: DataFrame, t: String, files: Int): Unit = {
      df.repartition(files).write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[makesf] $t -> $dst/$t.parquet ($files files)")
    }

    // fixed dims: the world keeps 25 nations however big the facts get
    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)

    val part = read("part"); val maxPk = maxOf(part, "p_partkey")
    write(replicas(part)
      .withColumn("p_partkey", col("p_partkey") + col("__r") * maxPk).drop("__r"),
      "part", 4)

    val supp = read("supplier"); val maxSk = maxOf(supp, "s_suppkey")
    write(replicas(supp)
      .withColumn("s_suppkey", col("s_suppkey") + col("__r") * maxSk).drop("__r"),
      "supplier", 2)

    val cust = read("customer"); val maxCk = maxOf(cust, "c_custkey")
    write(replicas(cust)
      .withColumn("c_custkey", col("c_custkey") + col("__r") * maxCk).drop("__r"),
      "customer", 4)

    val orders = read("orders"); val maxOk = maxOf(orders, "o_orderkey")
    write(replicas(orders)
      .withColumn("o_orderkey", col("o_orderkey") + col("__r") * maxOk)
      .withColumn("o_custkey", col("o_custkey") + col("__r") * maxCk)
      .drop("__r"),
      "orders", 8)

    // lineitem keeps part/supplier references at x1 (facts-per-dim growth)
    write(replicas(read("lineitem"))
      .withColumn("l_orderkey", col("l_orderkey") + col("__r") * maxOk)
      .drop("__r"),
      "lineitem", 32)

    val events = read("events")
    val maxEid = maxOf(events, "event_id"); val maxUid = maxOf(events, "user_id")
    write(replicas(events)
      .withColumn("event_id", col("event_id") + col("__r") * maxEid)
      .withColumn("user_id", col("user_id") + col("__r") * maxUid)
      .drop("__r"),
      "events", 8)

    val docs = read("documents"); val maxDid = maxOf(docs, "doc_id")
    // filler tokens must be (nearly) GLOBALLY unique, not just distinct
    // within a doc: an earlier mod-997 vocabulary made every ~997th doc
    // share its whole filler shingle set, so "replica" docs formed
    // corpus-sized boilerplate clusters whose pairwise-candidate count
    // grew with SF — per-capita candidate density is the invariant a
    // scaling ladder must hold. A 64-bit hash over (doc, position)
    // makes filler shingles df≈1: they depress replica↔source Jaccard
    // (the design goal) and generate no candidates of their own.
    val filler = array_join(
      transform(
        sequence(lit(1), greatest(lit(1), floor(size(split(col("text"), " ")) * 0.3)).cast("int")),
        i => concat(lit("zq"), col("__r"), lit("x"),
          pmod(xxhash64(col("doc_id") * 1000003 + i), lit(999999937L)))),
      " ")
    write(replicas(docs)
      .withColumn("text",
        when(col("__r") === 0, col("text")).otherwise(concat(col("text"), lit(" "), filler)))
      .withColumn("doc_id", col("doc_id") + col("__r") * maxDid)
      .withColumn("n_chars", length(col("text")))
      .drop("__r"),
      "documents", 8)

    val emb = read("embeddings"); val maxVid = maxOf(emb, "vec_id")
    val dim = size(col("embedding"))
    write(replicas(emb)
      .withColumn("embedding",
        when(col("__r") === 0, col("embedding"))
          .otherwise(concat(
            slice(col("embedding"), col("__r") + 1, dim - col("__r")),
            slice(col("embedding"), lit(1), col("__r")))))
      .withColumn("vec_id", col("vec_id") + col("__r") * maxVid)
      .drop("__r"),
      "embeddings", 4)

    println(s"[makesf] done: $src x$factor -> $dst")
    spark.stop()
  }
}
