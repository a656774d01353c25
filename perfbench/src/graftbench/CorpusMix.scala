package graftbench

/** The `SparkEntry.queries` entries `query_mix` runs, one timed op each
  * per pass. `Sql` holds read-only relational, composite and modern-SQL
  * entries that build no fixture and write nothing (module `queries`):
  * one fast entry each from the aggregation, generator, native range
  * join, semi-join, collation, window and EXISTS families. `Ops`
  * holds the corpus operators from the ROADMAP open items whose single
  * run fits the benchmark's time budget (module `ops`); `dd_minhash_lsh`,
  * `dd_ssjoin_prefix`, `dd_cluster`, `dd_corpus_dedup`, `dd_incremental`,
  * `tx_bigram_lm`, `tx_ppl_buckets` and `sm_dsir` are left out because each
  * takes 1–4 s per run even on a 200-document corpus. */
object CorpusMix {
  val Sql: Seq[String] = Seq(
    "a1_agg", "g2_posexplode", "j4e_range_native", "j6_semi_join", "ms5_collation", "w5_running_total",
    "x7_exists")
  val Ops: Seq[String] = Seq("dd_chunk_overlap", "g7_cdc_chunk", "tx_langid_trained", "cos_near_dup")
}
