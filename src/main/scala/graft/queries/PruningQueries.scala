package graft.queries

import graft.ops.{RuntimeFilter, Sampling, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 additions: scan-side pruning and corpus diagnostics.
  *
  *  - `bf_bloom_semi`  — Bloom-filter runtime pruning of a semi join
  *    ([[graft.ops.RuntimeFilter.bloomSemiJoin]]): filter the fact SCAN
  *    with a broadcast Bloom of the dim keys, then remove false
  *    positives exactly. Oracle: the plain `IN` subquery.
  *  - `j10_notin_naaj` — single-column `NOT IN` over a NULLABLE
  *    subquery: three-valued-logic anti join (a row matches only if the
  *    subquery provably contains no NULL and no equal key). SQL text so
  *    Catalyst's null-aware anti-join planning runs.
  *  - `sm_split`       — deterministic md5-bucket train/val/test
  *    assignment ([[graft.ops.Sampling.split]]).
  *  - `sm_priority`    — exact-quota weighted sampling without
  *    replacement ([[graft.ops.Sampling.prioritySample]] on the native
  *    grouped top-k).
  *  - `tx_divergence`  — per-source unigram entropy / cross-entropy /
  *    KL vs the corpus distribution
  *    ([[graft.ops.TextAnalysis.sourceDivergence]]).
  *  - `cp_e2e_corpus`  — the capstone pipeline: quality gate → exact
  *    dedup → split → train shard-shuffle, all engine ops, one SQL
  *    oracle replaying the five stages.
  */
object PruningQueries {

  type Q = (SparkSession, String) => DataFrame

  /** BF: orders of high-balance customers via Bloom-pruned semi join.
    * The dim is deliberately NOT broadcast as a table — the point is the
    * fact scan shrinks before any shuffle; the trailing exact semi join
    * only sees Bloom survivors. Result ≡ the plain semi join (oracle). */
  val bfBloomSemi: Q = (s, d) => {
    val dim = Tables.customer(s, d)
      .filter(col("c_acctbal") > 9000)
      .select(col("c_custkey"))
    RuntimeFilter.bloomSemiJoin(
      Tables.orders(s, d), "o_custkey", dim, "c_custkey",
      expectedItems = 1L << 16, numBits = 1L << 20)
      .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).alias("price"))
      .orderBy(col("o_orderkey"))
  }

  /** J10: NOT IN over a nullable subquery (the `nullif` makes the
    * subquery column nullable without ever producing a NULL, so the
    * result is non-degenerate while the plan still has to carry the
    * three-valued-logic contract). Both engines agree on the SQL
    * semantics; the NAAJ plan shape is pinned in PlanShapeSpec. */
  val j10NotinNaaj: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_j10")
    Tables.customer(s, d).createOrReplaceTempView("graft_customer_j10")
    s.sql("""
      SELECT o_orderkey, o_custkey
      FROM graft_orders_j10
      WHERE o_orderkey < 2000
        AND o_custkey NOT IN (SELECT nullif(c_custkey, -1)
                              FROM graft_customer_j10
                              WHERE c_acctbal < 500)
      ORDER BY o_orderkey""")
  }

  /** SM: 80/10/10 deterministic split of the documents table. */
  val smSplit: Q = (s, d) =>
    Sampling.split(
      Tables.documents(s, d).select(col("doc_id")),
      col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .orderBy(col("doc_id"))

  /** TX: per-source unigram divergence diagnostics. */
  val txDivergence: Q = (s, d) =>
    TextAnalysis.sourceDivergence(Tables.documents(s, d), "source", "text")
      .orderBy(col("source"))

  /** SM: exact-quota weighted sample — 20 docs per source, weighted by
    * length ([[graft.ops.Sampling.prioritySample]] on the native
    * grouped top-k). Oracle replays the priority rule with a window
    * rank. */
  val smPriority: Q = (s, d) =>
    Sampling.prioritySample(
      Tables.documents(s, d).select(col("source"), col("doc_id"), col("n_chars")),
      keyCol = "doc_id", weightCol = "n_chars", groupCol = "source", k = 20)
      .select(col("source"), col("doc_id"))
      .orderBy(col("source"), col("doc_id"))

  /** CP2: the capstone corpus pipeline — quality/length gate → exact
    * dedup → deterministic split → keep train → shard-shuffle, every
    * stage the engine's own operator, chained exactly as a corpus build
    * ships it. One scan + one dedup shuffle + narrow split filter + one
    * shard exchange. The oracle replays all five stages in SQL. */
  val cpE2eCorpus: Q = (s, d) => {
    val qraw = graft.functions.native.qualityScoreRaw(col("text"))
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        graft.ops.TextAnalysis.tokenCount(col("text")).alias("n_tokens"))
      .filter(qraw >= 0.4 && col("n_tokens").between(20, 2000))
    val deduped = scored
      .join(graft.ops.Dedup.exactDedupIds(scored, "doc_id", "text"), Seq("doc_id"), "left_semi")
    val train = Sampling.split(deduped, col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .filter(col("split") === "train")
    Sampling.shuffleShards(train.select(col("doc_id"), col("n_tokens")), col("doc_id"), 4)
      .select(col("doc_id"), col("n_tokens"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  /** ZO: z-order clustering + file-level min-max skipping
    * ([[graft.ops.Zorder]]): write orders Morton-clustered on
    * (customer bucket, order day), index per-file envelopes, then
    * answer a two-dimensional range predicate reading only the files
    * whose envelope intersects — a linear layout prunes on its leading
    * column only. Result ≡ the plain filter (oracle); the prune factor
    * itself is pinned in ZorderSpec and measured in SCALE.md. */
  val zoSkippingScan: Q = (s, d) => {
    val dir = Fixtures.table("zorder", d) { t =>
      val orders = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        pmod(col("o_custkey"), lit(4096)).cast("long").alias("ck"),
        datediff(col("o_orderdate"), to_date(lit("1995-01-01"))).cast("long").alias("od"))
      graft.ops.Zorder.writeZordered(orders, t, Seq("ck", "od"), bits = 12, numFiles = 16)
      graft.ops.Zorder.writeFileStats(s, t, Seq("ck", "od"))
    }
    graft.ops.Zorder.skippingScan(s, dir, Map("ck" -> (100L, 300L), "od" -> (400L, 700L)))
      .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).alias("price"))
      .orderBy(col("o_orderkey"))
  }

  /** BL2: the Bloom MANIFEST index through the DSv2 connector
    * ([[graft.ops.BloomIndex.bloomCommit]]) — a snapshot table
    * scattered by `o_custkey` (so min/max stats on `o_orderkey`
    * provably prune nothing) gets a per-(file, column) Bloom index
    * published as a `bloomfile=` manifest line; a pushed `IN` probe
    * then prunes files whose filters exclude every value at PLANNING.
    * The oracle replays the lookup as plain SQL — pruning is IO-only,
    * values must be exact (false positives re-filter, never leak). */
  val blManifestLookup: Q = (s, d) => {
    val table = Fixtures.table("bmanifest", d) { t =>
      graft.store.SnapshotStore.commit(
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .repartition(16, col("o_custkey")), t)
      graft.ops.BloomIndex.bloomCommit(s, t, Seq("o_orderkey"),
        expectedItems = 1L << 16, numBits = 1L << 19)
    }
    s.read.format("graft-snapshot").option("path", table).load()
      .filter(col("o_orderkey").isin(1L, 7L, 32L, 4963L, 29440L, 299999L))
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).alias("price"))
      .orderBy(col("o_orderkey"))
  }

  /** BL: file-level Bloom point lookup ([[graft.ops.BloomIndex]]) —
    * needle-in-haystack equality on a high-cardinality key the layout
    * is NOT clustered by. The table is written hash-scattered (the
    * envelope index is useless by construction: every file spans the
    * key range); the per-file Bloom index prunes to the files that
    * might hold each probed key, and the exact IN re-applies. Result ≡
    * plain filter, which is what the oracle runs; the pruning factor
    * itself is pinned in ScalaTest. */
  val blPointLookup: Q = (s, d) => {
    val dir = Fixtures.table("bindex", d) { t =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .repartition(16, col("o_custkey")) // scatter: no key locality at all
        .write.mode("overwrite").parquet(t)
      graft.ops.BloomIndex.writeFileBloomIndex(s, t, "o_orderkey",
        expectedItems = 1L << 16, numBits = 1L << 19)
    }
    graft.ops.BloomIndex.multiLookup(s, dir, "o_orderkey",
      Seq(1L, 7L, 32L, 4963L, 29440L, 299999L))
      .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).alias("price"))
      .orderBy(col("o_orderkey"))
  }

  /** MV: automatic materialized-view rewrite
    * ([[graft.plans.AggMvRewriteRule]]) — the aggregate is written
    * against the BASE fact, the optimizer re-targets it onto the
    * registered summary table, and the query itself asserts the
    * rewrite fired (so this entry fails loudly, not silently, if the
    * rule regresses). Oracle computes the same aggregate from the raw
    * fact — rollup algebra must be exact. */
  val mvRewriteAgg: Q = (s, d) => {
    val root = Fixtures.dir("aggmv", d) { r =>
      Tables.orders(s, d).select(
        col("o_orderstatus"),
        year(col("o_orderdate")).alias("yr"),
        round(col("o_totalprice") * 100).cast("long").alias("cents"))
        .write.mode("overwrite").parquet(s"$r/orders_base")
      graft.sql.MaterializedAgg.create(s, s"$r/orders_base", s"$r/orders_mv",
        Seq("o_orderstatus", "yr"), Seq("cents"))
    }
    val base = s"$root/orders_base"
    val mv = s"$root/orders_mv"
    val out = s.read.parquet(base)
      .filter(col("yr") >= 1995)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).alias("n_rows"),
        sum(col("cents")).alias("sum_cents"),
        min(col("cents")).alias("min_cents"),
        max(col("cents")).alias("max_cents"),
        round(avg(col("cents")), 4).alias("avg_cents"))
    val scanned = out.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.rootPaths.map(_.toUri.getPath)
    }.flatten
    require(scanned.nonEmpty && scanned.forall(_ == mv),
      s"MV rewrite did not fire: scans $scanned")
    out.orderBy(col("o_orderstatus"))
  }

  /** TX: per-source Zipf slope ([[graft.ops.TextAnalysis.zipfSlope]]). */
  val txZipf: Q = (s, d) =>
    TextAnalysis.zipfSlope(Tables.documents(s, d), "source", "text", topK = 100)
      .orderBy(col("source"))

  val queries: Map[String, Q] = Map(
    "zo_skipping_scan" -> zoSkippingScan,
    "bl_point_lookup" -> blPointLookup,
    "bl_manifest_lookup" -> blManifestLookup,
    "mv_rewrite_agg" -> mvRewriteAgg,
    "tx_zipf" -> txZipf,
    "cp_e2e_corpus" -> cpE2eCorpus,
    "bf_bloom_semi" -> bfBloomSemi,
    "j10_notin_naaj" -> j10NotinNaaj,
    "sm_split" -> smSplit,
    "sm_priority" -> smPriority,
    "tx_divergence" -> txDivergence
  )

  val oracles: Map[String, String] = Map(
    "zo_skipping_scan" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
         FROM orders
         WHERE o_custkey % 4096 BETWEEN 100 AND 300
           AND date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) BETWEEN 400 AND 700
         ORDER BY o_orderkey""",
    "bl_point_lookup" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
         FROM orders
         WHERE o_orderkey IN (1, 7, 32, 4963, 29440, 299999)
         ORDER BY o_orderkey""",
    "bl_manifest_lookup" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
         FROM orders
         WHERE o_orderkey IN (1, 7, 32, 4963, 29440, 299999)
         ORDER BY o_orderkey""",
    "mv_rewrite_agg" ->
      """WITH b AS (SELECT o_orderstatus, year(o_orderdate) AS yr,
                           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                    FROM orders)
         SELECT o_orderstatus,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(cents) AS BIGINT) AS sum_cents,
                min(cents) AS min_cents,
                max(cents) AS max_cents,
                round(avg(cents), 4) AS avg_cents
         FROM b WHERE yr >= 1995
         GROUP BY 1 ORDER BY 1""",
    "tx_zipf" ->
      """WITH toks AS (
           SELECT source, unnest(string_split(lower(text), ' ')) AS term FROM documents),
         c AS (
           SELECT source, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
         r AS (
           SELECT source, tf,
                  row_number() OVER (PARTITION BY source ORDER BY tf DESC, term) AS rk
           FROM c)
         SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
                round(regr_slope(ln(tf), ln(rk)), 4) AS zipf_slope
         FROM r WHERE rk <= 100
         GROUP BY source ORDER BY source""",
    "cp_e2e_corpus" ->
      s"""WITH q AS (
           SELECT doc_id, text, ${LlmQueries.qualityScoreRawSql} AS qraw,
                  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT)
                    AS n_tokens
           FROM documents),
         f AS (SELECT * FROM q WHERE qraw >= 0.4 AND n_tokens BETWEEN 20 AND 2000),
         k AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY md5(text)),
         t AS (
           SELECT doc_id, n_tokens FROM f
           WHERE doc_id IN (SELECT doc_id FROM k)
             AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'),
         h AS (
           SELECT doc_id, n_tokens,
                  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hh
           FROM t)
         SELECT doc_id, n_tokens, CAST(hh % 4 AS INT) AS shard,
                CAST(row_number() OVER (PARTITION BY hh % 4 ORDER BY hh, doc_id) AS INT) AS pos
         FROM h ORDER BY shard, pos""",
    "bf_bloom_semi" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
         FROM orders
         WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
         ORDER BY o_orderkey""",
    "j10_notin_naaj" ->
      """SELECT o_orderkey, o_custkey
         FROM orders
         WHERE o_orderkey < 2000
           AND o_custkey NOT IN (SELECT nullif(c_custkey, -1)
                                 FROM customer
                                 WHERE c_acctbal < 500)
         ORDER BY o_orderkey""",
    "sm_priority" ->
      """WITH s AS (
           SELECT source, doc_id,
                  ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT)
                      + 0.5) / 65536.0) / n_chars AS pr
           FROM documents WHERE n_chars > 0),
         r AS (
           SELECT source, doc_id,
                  row_number() OVER (PARTITION BY source ORDER BY pr DESC, doc_id) AS rk
           FROM s)
         SELECT source, doc_id FROM r WHERE rk <= 20
         ORDER BY source, doc_id""",
    "sm_split" ->
      """SELECT doc_id,
                CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
                     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
                     ELSE 'test' END AS split
         FROM documents
         ORDER BY doc_id""",
    "tx_divergence" ->
      """WITH toks AS (
           SELECT source, unnest(string_split(lower(text), ' ')) AS term FROM documents),
         c AS (
           SELECT source, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
         st AS (SELECT source, sum(tf) AS src_n FROM c GROUP BY 1),
         g  AS (SELECT term, sum(tf) AS gtf FROM c GROUP BY 1),
         gt AS (SELECT sum(gtf) AS g_n FROM g)
         SELECT c.source AS source,
                CAST(count(*) AS BIGINT) AS n_terms,
                CAST(min(st.src_n) AS BIGINT) AS n_tokens,
                round(sum(-(c.tf / st.src_n) * ln(c.tf / st.src_n)), 4) AS entropy,
                round(sum(-(c.tf / st.src_n) * ln(g.gtf / gt.g_n)), 4) AS cross_entropy,
                round(sum((c.tf / st.src_n) * ln((c.tf / st.src_n) / (g.gtf / gt.g_n))), 4)
                  AS kl_vs_corpus
         FROM c JOIN g USING (term) JOIN st USING (source) CROSS JOIN gt
         GROUP BY c.source
         ORDER BY source"""
  )
}
