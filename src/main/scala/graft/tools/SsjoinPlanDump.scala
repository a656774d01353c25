package graft.tools

import graft.ops.Dedup
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Dump the ssjoin CANDIDATE-GENERATION physical plans — the full query
  * eagerly checkpoints candidates, so the final plan only shows the
  * verify stage over an ExistingRDD and the candidate exchanges this
  * round narrowed are invisible in the query-level dump.
  * `runMain graft.tools.SsjoinPlanDump <sfDir> <outDir>` writes
  * `dd_ssjoin_prefix_cands_{strings,hashed}.txt`: the round-16
  * string-keyed shape (reconstructed inline, the before-evidence) and
  * the current hash-keyed [[Dedup.prefixBucketCandidates]] plan. */
object SsjoinPlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val spark = graft.Sessions.local("ssjoin-plandump")
    new java.io.File(outDir).mkdirs()
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      .select(col("doc_id"), col("text"))
      .unionAll(docs.filter(pmod(col("doc_id"), lit(10)) === 5)
        .select((col("doc_id") + 2000000000L).alias("doc_id"),
          concat(col("text"), lit(" zqxmutation")).alias("text")))
    val threshold = 0.7

    // round-16 shape: shingle STRINGS through every candidate exchange
    val base = corpus.select(col("doc_id").alias("__id"),
      graft.functions.native.wordShingles(col("text"), 3).alias("__sh"))
    val ex = base.select(col("__id"), explode(col("__sh")).alias("__tok"))
    val dfreq = ex.groupBy(col("__tok")).agg(count(lit(1)).alias("__df"))
    val ordered = ex.join(dfreq, "__tok").groupBy(col("__id"))
      .agg(sort_array(collect_list(struct(col("__df"), col("__tok")))).alias("__o"))
    val prefLen = greatest(
      size(col("__o")) - ceil(size(col("__o")) * threshold).cast("int") + 1, lit(1))
    val prefStrings = ordered.select(
      col("__id"),
      size(col("__o")).alias("__n"),
      posexplode(slice(transform(col("__o"), x => x("__tok")), lit(1), prefLen))
        .as(Seq("__pos", "__ptok")))
    val candsStrings = Dedup.prefixBucketCandidates(prefStrings, threshold, 4096)

    // current shape: 8-byte xxhash64 images through the same exchanges
    val candsHashed = Dedup.prefixBucketCandidates(
      Dedup.prefixRows(corpus, "doc_id", "text", threshold, 3), threshold, 4096)

    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/$name.txt"),
        df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    dump("dd_ssjoin_prefix_cands_strings", candsStrings)
    dump("dd_ssjoin_prefix_cands_hashed", candsHashed)
    spark.stop()
  }
}
