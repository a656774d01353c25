package graft.ops

import graft.functions.native
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product quantization (PQ): compress each (normalized) vector into m
  * one-byte codes — one code per d/m-dim subspace, each trained by its
  * own small k-means — and answer similarity queries with asymmetric
  * distance (full-precision query vs quantized corpus) through a lookup
  * table. The memory story at 100 TB: a 64-dim float vector (256 B)
  * becomes m codes (m bytes — 16 B at the default m=16, a 16×
  * compression), turning a cluster-wide ANN corpus into something a
  * single executor core streams from cache; raise m/ksub for recall,
  * lower them for density.
  *
  * Scale shape: training assigns subvectors against a BROADCAST codebook
  * (m × ksub centroids ≈ KBs — never a corpus shuffle); encoding is the
  * same broadcast argmin; ADC search builds a per-query lookup table
  * (m × ksub dots, broadcast), joins it to the corpus codes map-side,
  * and reduces with ONE partial+final aggregation per (query, neighbor).
  * Deterministic end to end: seeds are the first ksub ids' subvectors,
  * ties break on code id, so the contract oracle is stable.
  */
object Pq {

  /** (id, sub, subvector) rows: each normalized vector split into m
    * contiguous d/m-dim slices. Narrow (explode of a per-row transform). */
  private[ops] def subvectors(
      corpus: DataFrame, idCol: String, vecCol: String, m: Int,
      normalize: Boolean = true): DataFrame = {
    // normalize=false is the RESIDUAL path: residuals are not unit
    // vectors and may legitimately be zero (a vector that IS its cell
    // centroid) — renormalizing would corrupt them and drop the zeros
    val normed =
      if (normalize)
        corpus.select(
          col(idCol).alias("__id"),
          native.l2normalize(col(vecCol).cast("array<double>")).alias("__v"))
          .filter(col("__v").isNotNull)
      else
        corpus.select(col(idCol).alias("__id"), col(vecCol).cast("array<double>").alias("__v"))
    val dsub = size(col("__v")) / m
    normed
      .select(
        col("__id"),
        posexplode(transform(
          sequence(lit(0), lit(m - 1)),
          s => slice(col("__v"), s * dsub + 1, dsub))).as(Seq("sub", "__sv")))
  }

  /** Nearest code per (id, sub) against a broadcast codebook:
    * argmin ||sv − c||² ⇔ argmax (dot(sv, c) − ||c||²/2). The argmax is
    * a `max_by` hash AGGREGATION (partial-merge, no sort), not a
    * row_number window — same result (ties → lower code via the struct
    * key), one sort-free pass over the ksub candidates per subvector. */
  private def assignCodes(subvecs: DataFrame, codebook: DataFrame): DataFrame =
    subvecs
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("__score",
        native.dotProduct(col("__sv"), col("__cv")) -
          native.dotProduct(col("__cv"), col("__cv")) / 2)
      .groupBy(col("__id"), col("sub"))
      .agg(max_by(
        struct(col("code"), col("__sv")),
        struct(col("__score"), (-col("code")).alias("__nc"))).alias("__best"))
      .select(col("__id"), col("sub"),
        col("__best.code").alias("code"), col("__best.__sv").alias("__sv"))

  /** Per-subspace Lloyd k-means codebook: (sub, code, __cv). Seeds are
    * the first `ksub` ids' subvectors (deterministic); empty codes keep
    * their previous centroid.
    *
    * The codebook lives on the DRIVER between iterations (m × ksub
    * centroids — KBs by design, the same bounded-model contract MLlib's
    * k-means uses): each round is one aggregate job whose result is
    * collected and re-broadcast as a LocalRelation. No per-iteration
    * localCheckpoint, no lineage growth, and every downstream reference
    * to the codebook is a free local broadcast instead of a replayed
    * checkpoint stage. The CORPUS never visits the driver.
    *
    * Training reads a BOUNDED deterministic sample, not the full corpus
    * (`maxTrainVectors`, id-hash strided so it is stable across runs and
    * partitionings): Lloyd cost per round is sample × m × ksub, so with
    * [[resolutionScaledKsub]] growing ksub as √n the total training cost
    * stays ~√n instead of n^1.5 — at 100 TB you never k-means the whole
    * corpus to learn 256 centroids per subspace, a few thousand vectors
    * estimate the same cell means (k-means is a mean estimator; its
    * variance shrinks with sample size, not corpus size). ENCODING still
    * touches every vector — that is the product being built. Corpora at
    * or below the budget train on everything, unchanged. */
  def trainCodebook(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      ksub: Int,
      iterations: Int = 3,
      normalize: Boolean = true,
      maxTrainVectors: Int = 4096): DataFrame = {
    val spark = corpus.sparkSession
    // A LocalLimit-bounded probe decides whether sizing is needed at all:
    // it reads ≤ maxTrainVectors+1 rows, so an at-or-under-budget corpus
    // (the common small case) never pays a full count. Above budget, the
    // full count is one column-pruned pass (metadata-cheap on a
    // parquet-backed corpus; one real pass on a derived plan like IVF
    // residuals) — ~5-10% of a training run that then makes `iterations`
    // full assignment passes. Accepted: the alternatives (rate-based
    // sampling without n, or persisting the full corpus subvectors to
    // count them) cost correctness of the sample-size contract or
    // corpus-sized memory. The stride rounds UP: the budget is a CEILING
    // on the expected sample (floor division lets n = 2·budget−1 slip
    // through at stride 1, an expected sample of ~2× the budget).
    val probe = corpus.limit(maxTrainVectors + 1).count()
    val stride =
      if (probe <= maxTrainVectors) 1L
      else {
        val n = corpus.count()
        math.max(1L, (n + maxTrainVectors - 1) / math.max(1, maxTrainVectors))
      }
    val train =
      if (stride > 1)
        corpus.filter(pmod(xxhash64(col(idCol)), lit(stride)) === 0)
      else corpus
    def toDf(rows: Seq[(Int, Int, Seq[Double])]): DataFrame =
      spark.createDataFrame(rows).toDF("sub", "code", "__cv")
    // The training set is BOUNDED by the sample contract above
    // (≤ ~maxTrainVectors vectors — 4096 × 64 doubles ≈ 2 MB at the
    // defaults), so Lloyd runs as a DRIVER loop over one collected
    // sample: one job total, instead of the former seed-window collect
    // plus (broadcast + 3-stage aggregate + collect) per iteration —
    // 2 + 2·iterations distributed jobs whose per-job latency dominated
    // the training wall (measured 3.2 s warm at sf0.1 for 2 000
    // vectors; the arithmetic itself is ~50 M flops). Normalization and
    // subvector slicing stay SPARK expressions (same codegen'd kernels
    // as encoding), so the collected subvectors are bit-identical to
    // what the distributed rounds consumed; seed choice (first ksub ids
    // per sub), the assignment rule (argmax dot(sv,c) − ‖c‖²/2, ties to
    // the lower code), empty-codes-keep-centroid, and the per-position
    // mean are reproduced exactly — only the mean's floating-point
    // summation ORDER changes (id-ascending here vs partition-merge
    // order there), which the former partial aggregation never pinned
    // either. The CORPUS still never visits the driver: encoding
    // (assignCodes) remains fully distributed.
    val collected = subvectors(train, idCol, vecCol, m, normalize)
      .orderBy(col("__id"), col("sub"))
      .select(col("sub"), col("__sv"))
      .collect()
    val bySub: Array[Array[Array[Double]]] = {
      val builders = Array.fill(m)(Array.newBuilder[Array[Double]])
      collected.foreach { r =>
        builders(r.getInt(0)) += r.getSeq[Double](1).toArray
      }
      builders.map(_.result())
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    // seeds: the first ksub ids' subvectors per sub (id-ascending — the
    // same rows the former row_number window picked)
    val codebook: Array[Array[Array[Double]]] =
      bySub.map(svs => svs.take(ksub).map(_.clone()))
    for (_ <- 1 to iterations) {
      var sub = 0
      while (sub < m) {
        val svs = bySub(sub)
        val cents = codebook(sub)
        val half = cents.map(c => dot(c, c) / 2)
        val sums = Array.fill(cents.length)(new Array[Double](if (svs.isEmpty) 0 else svs(0).length))
        val counts = new Array[Long](cents.length)
        var i = 0
        while (i < svs.length) {
          val sv = svs(i)
          var best = 0
          var bestScore = Double.NegativeInfinity
          var c = 0
          while (c < cents.length) {
            val score = dot(sv, cents(c)) - half(c)
            if (score > bestScore) { bestScore = score; best = c } // tie keeps the lower code
            c += 1
          }
          val acc = sums(best)
          var j = 0
          while (j < sv.length) { acc(j) += sv(j); j += 1 }
          counts(best) += 1
          i += 1
        }
        var c = 0
        while (c < cents.length) {
          if (counts(c) > 0) { // empty codes keep their previous centroid
            val mean = sums(c)
            var j = 0
            while (j < mean.length) { mean(j) /= counts(c); j += 1 }
            cents(c) = mean
          }
          c += 1
        }
        sub += 1
      }
    }
    toDf(for {
      sub <- 0 until m
      code <- codebook(sub).indices
    } yield (sub, code, codebook(sub)(code).toSeq))
  }

  /** Encode the corpus: (id, sub, code) — the 1-byte-per-subspace
    * representation an executor streams at 100 TB. */
  def encode(
      corpus: DataFrame, idCol: String, vecCol: String, codebook: DataFrame, m: Int,
      normalize: Boolean = true): DataFrame =
    assignCodes(subvectors(corpus, idCol, vecCol, m, normalize), codebook)
      .select(col("__id"), col("sub"), col("code"))

  /** Per-query ADC lookup table: (q_id, sub, code, __d) with
    * __d = dot(query subvector, code centroid). m × ksub rows per query
    * — KBs, always broadcastable. */
  private[ops] def queryLut(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      codebook: DataFrame,
      m: Int): DataFrame =
    subvectors(corpus.filter(col(idCol).isin(queryIds: _*)), idCol, vecCol, m)
      .select(col("__id").alias("q_id"), col("sub"), col("__sv"))
      .join(broadcast(codebook), Seq("sub"))
      .select(col("q_id"), col("sub"), col("code"),
        native.dotProduct(col("__sv"), col("__cv")).alias("__d"))

  /** Resolution-scaled codes-per-subspace — the PQ sibling of
    * [[Similarity.occupancyScaledBits]]: at a FIXED code budget the
    * number of corpus vectors crowding between the exact top-1's
    * quantized distance and rank k grows with n, so recall@k of the
    * exact neighbor decays as the corpus grows (measured: the top-10
    * contract that holds at 500 vectors breaks by 5000). Scaling ksub
    * with √(n/baseN) keeps per-subspace quantization cells populated at
    * a roughly constant rate; clamped to [base, 256] — codes must stay
    * one byte. Training cost grows linearly in ksub (broadcast
    * codebook assignment), still centroid-sized driver relations. */
  def resolutionScaledKsub(n: Long, base: Int = 32, baseN: Long = 500): Int = {
    val scaled = math.ceil(base * math.sqrt(math.max(1.0, n.toDouble / baseN))).toInt
    math.min(256, math.max(base, scaled))
  }

  /** Asymmetric-distance top-k: full-precision queries against the
    * quantized corpus. The per-query lookup table (dot of each query
    * subvector with each code centroid) is broadcast; approximate
    * cosine = Σ_sub lut(q, sub, code(n, sub)) reduces in one
    * aggregation. Queries never see raw corpus vectors — only codes. */
  def adcTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      k: Int,
      m: Int = 16,
      ksub: Int = 32,
      iterations: Int = 3,
      maxTrainVectors: Int = 4096): DataFrame = {
    val codebook = trainCodebook(corpus, idCol, vecCol, m, ksub, iterations,
      maxTrainVectors = maxTrainVectors)
    val codes = encode(corpus, idCol, vecCol, codebook, m)
    val lut = queryLut(corpus, idCol, vecCol, queryIds, codebook, m)
    Similarity.rankTopK(
      codes
        .join(broadcast(lut), Seq("sub", "code"))
        .filter(col("q_id") =!= col("__id"))
        .groupBy(col("q_id"), col("__id"))
        .agg(sum(col("__d")).alias("approx_sim"))
        .select(col("q_id"), col("__id").alias("n_id"), col("approx_sim").alias("sim")),
      k)
      .select(col("q_id"), col("rnk").cast("int").alias("rnk"),
        col("n_id"), round(col("sim"), 4).alias("approx_sim"))
  }
}
