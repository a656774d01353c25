package graft.ops

import graft.functions.native
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor: a coarse quantizer
  * partitions the corpus into cells; queries probe only the closest
  * `nProbe` cells.
  *
  * Scale shape: centroid assignment is a broadcast nested-loop of the
  * corpus against the (small, driver-collected) centroid set — linear in
  * corpus size, no shuffle of the big side — followed by one windowed
  * argmax per vector. Search touches `nProbe / nCells` of the corpus per
  * query, shuffled once on cell id. The cell table is exactly the
  * "inverted file": at 100 TB it would be written bucketed by cell id so
  * probes become partition-pruned scans.
  *
  * Centroid choice is deterministic (first `nCells` ids): a coarse
  * quantizer needs spread, not optimality, and determinism matters more
  * here than k-means polish — swap in refined centroids without touching
  * the search path.
  */
object Ivf {

  /** Native single-pass L2 normalize; NULL for zero vectors (callers
    * drop them explicitly rather than propagate NaN cosines). */
  private def norml2(v: Column): Column = native.l2normalize(v)

  /** (id, normalized vector) with zero vectors dropped. */
  private def normalized(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.select(
      col(idCol).alias("__id"),
      norml2(col(vecCol).cast("array<double>")).alias("__v"))
      .filter(col("__v").isNotNull)

  /** Nearest-centroid assignment against an explicit (cell, __cv)
    * centroid table (broadcast — centroid sets are KBs). The argmax is
    * a `max_by` hash AGGREGATION (same rule as [[Pq]]'s assignCodes:
    * max __sim, ties to the lower cell via the negated key), NOT a
    * row_number window: the window form shuffled the corpus × nCells
    * expanded rows — each carrying the vector AND a centroid — into a
    * hash exchange plus per-id sort, where the partial-merging
    * aggregate collapses the nCells candidates to one row per vector
    * ON THE MAP SIDE, so the exchange moves |corpus| rows of
    * (cell, vector) and nothing sorts. */
  private def assignTo(normed: DataFrame, cents: DataFrame): DataFrame =
    normed
      .join(broadcast(cents)) // broadcast nested loop: |corpus| × nCells, no shuffle of corpus
      .withColumn("__sim", native.dotProduct(col("__v"), col("__cv")))
      .groupBy(col("__id"))
      .agg(max_by(
        struct(col("cell"), col("__v")),
        struct(col("__sim"), (-col("cell")).alias("__nc"))).alias("__best"))
      .select(col("__id"), col("__best.cell").alias("cell"), col("__best.__v").alias("__v"))

  /** Deterministic seed centroids: the first `nCells` ids. */
  private def seedCentroids(normed: DataFrame, nCells: Int): DataFrame =
    normed.orderBy(col("__id")).limit(nCells)
      .select(col("__id").alias("cell"), col("__v").alias("__cv"))

  /** Assign every vector to its nearest centroid (by cosine, i.e. dot of
    * normalized vectors). Zero vectors (no direction, NaN cosine) are
    * dropped at entry. Returns (id, cell, vector) rows. */
  def assign(corpus: DataFrame, idCol: String, vecCol: String, nCells: Int): DataFrame = {
    val normed = normalized(corpus, idCol, vecCol)
    assignTo(normed, seedCentroids(normed, nCells))
  }

  /** Spherical k-means (Lloyd) refinement of the coarse quantizer:
    * iterate assign → per-cell mean → renormalize. Returns a
    * (cell, __cv) centroid table usable by [[topK]]'s `centroids`
    * parameter; cell ids are the seed ids (stable across iterations).
    *
    * Scale shape per iteration: assignment is the same broadcast
    * nested-loop as [[assign]] (no corpus shuffle); the mean is ONE
    * shuffle of (cell, pos, component) rows — explode is map-side, the
    * aggregate is partial+final, and the shuffled payload is corpus ×
    * dims scalars, the same bytes a vector shuffle would carry. Empty
    * cells keep their previous centroid, so the cell count never
    * silently shrinks. The centroid table lives on the DRIVER between
    * iterations (nCells × dims doubles — KBs by design, the MLlib
    * k-means contract): each round collects one aggregate's result and
    * re-broadcasts it as a LocalRelation — no per-iteration
    * localCheckpoint jobs, no lineage growth. The corpus never visits
    * the driver. */
  def trainCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      iterations: Int = 3): DataFrame = {
    val spark = corpus.sparkSession
    // persist the normalized training set across the seed + Lloyd
    // rounds (it is re-read every iteration otherwise) — MLlib's
    // cache-the-training-input contract; memory-and-disk so it spills
    val normed = normalized(corpus, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def toDf(rows: Seq[(Long, Seq[Double])]): DataFrame =
      spark.createDataFrame(rows).toDF("cell", "__cv")
    var local: Seq[(Long, Seq[Double])] = seedCentroids(normed, nCells)
      .collect().toSeq.map(r => (r.getLong(0), r.getSeq[Double](1)))
    for (_ <- 1 to iterations) {
      val updated = assignTo(normed, toDf(local))
        .select(col("cell"), posexplode(col("__v")).as(Seq("__pos", "__x")))
        .groupBy(col("cell"), col("__pos"))
        .agg(avg(col("__x")).alias("__m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("__pos"), col("__m")))).alias("__pm"))
        .select(col("cell"), transform(col("__pm"), p => p.getField("__m")).alias("__mean"))
        .select(col("cell"), norml2(col("__mean")).alias("__newCv"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      local = local.map { case (cell, cv) => (cell, updated.getOrElse(cell, cv)) }
    }
    normed.unpersist(blocking = false)
    toDf(local)
  }

  /** IVF-PQ: the production ANN index — coarse IVF cells bound WHERE to
    * look (`nProbe / nCells` of the corpus per query), PQ codes bound
    * WHAT is read there (m bytes per vector instead of the full float
    * array), and asymmetric distance ranks candidates without ever
    * touching a raw corpus vector at query time. Simplification vs the
    * classical formulation: codes quantize the vectors themselves, not
    * the cell residuals — one shared codebook, and with
    * `nProbe = nCells` the result is exactly [[Pq.adcTopK]] (which is
    * what lets the declared entry share the PQ recall contract).
    *
    * Scale shape: cells and codes are both corpus-linear one-time
    * builds (broadcast assignments, no corpus shuffle); a query touches
    * probed cells' CODE rows only — at 100 TB with the code table
    * bucketed by cell, a query reads nProbe partition-pruned byte
    * streams. */
  def pqTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      k: Int,
      nCells: Int = 32,
      nProbe: Int = 8,
      m: Int = 16,
      ksub: Int = 32,
      iterations: Int = 3): DataFrame = {
    val normed = normalized(corpus, idCol, vecCol)
    val cents = seedCentroids(normed, nCells)
    val assigned = assignTo(normed, cents).select(col("__id"), col("cell"))
    val codebook = Pq.trainCodebook(corpus, idCol, vecCol, m, ksub, iterations)
    val cellCodes = Pq.encode(corpus, idCol, vecCol, codebook, m)
      .join(assigned, Seq("__id"))
    val queries = normed.filter(col("__id").isin(queryIds: _*))
      .select(col("__id").alias("q_id"), col("__v").alias("__qv"))
    val probes = queries
      .join(broadcast(cents))
      .withColumn("__sim", native.dotProduct(col("__qv"), col("__cv")))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("__sim").desc, col("cell"))))
      .filter(col("__rk") <= nProbe)
      .select(col("q_id"), col("cell"))
    val lut = Pq.queryLut(corpus, idCol, vecCol, queryIds, codebook, m)
    Similarity.rankTopK(
      cellCodes
        .join(broadcast(probes), Seq("cell"))
        .join(broadcast(lut), Seq("q_id", "sub", "code"))
        .filter(col("q_id") =!= col("__id"))
        .groupBy(col("q_id"), col("__id"))
        .agg(sum(col("__d")).alias("approx_sim"))
        .select(col("q_id"), col("__id").alias("n_id"), col("approx_sim").alias("sim")),
      k)
      .select(col("q_id"), col("rnk").cast("int").alias("rnk"),
        col("n_id"), round(col("sim"), 4).alias("approx_sim"))
  }

  /** RESIDUAL IVF-PQ — the classical formulation ([[pqTopK]] quantizes
    * raw vectors; this quantizes each vector's residual `v − centroid`
    * of its cell): residuals are smaller and more isotropic than raw
    * vectors, so the same code budget spends its resolution where the
    * cell has not already explained the data. ADC decomposes exactly:
    * `dot(q, v) = dot(q, c) + dot(q, r)` — the first term is ONE
    * constant per (query, probed cell); the second sums the per-subspace
    * lookup of q's OWN subvectors against the residual codebook (no
    * residual query is ever formed).
    *
    * Same scale shape as [[pqTopK]]: broadcast codebook/LUT/probe list,
    * one aggregation per (query, neighbor); the residual computation is
    * one narrow zip_with at build time.
    *
    * PRECONDITION (measured, pinned in SimilaritySpec): residuals only
    * help when the corpus is CLUSTERED — then ‖v − c‖ ≪ ‖v‖ and the code
    * budget resolves fine within-cell offsets. On uniform-random vectors
    * the residual norm is ≈√2 (LARGER than the unit vectors), so raw
    * codes win; that is why the declared recall entry uses [[pqTopK]]
    * while this variant is verified on a clustered fixture. */
  def pqTopKResidual(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      k: Int,
      nCells: Int = 32,
      nProbe: Int = 8,
      m: Int = 16,
      ksub: Int = 32,
      iterations: Int = 3): DataFrame = {
    val normed = normalized(corpus, idCol, vecCol)
    val cents = seedCentroids(normed, nCells)
    val assigned = assignTo(normed, cents) // (__id, cell, __v)
    // residual per vector: v − its cell centroid (narrow after a
    // broadcast join on cell)
    val residuals = assigned
      .join(broadcast(cents), Seq("cell"))
      .select(col("__id"), col("cell"),
        zip_with(col("__v"), col("__cv"), (x, c) => x - c).alias("__r"))
    // train on NON-degenerate residuals only: the seed centroids' own
    // residuals are exactly zero (they ARE their cell's centroid), and
    // deterministic seeding from the first ids would otherwise fill the
    // codebook with zero codes that never separate anything
    val trainSet = residuals
      .filter(native.dotProduct(col("__r"), col("__r")) > 0)
      .select(col("__id"), col("__r"))
    val codebook = Pq.trainCodebook(
      trainSet, "__id", "__r", m, ksub, iterations, normalize = false)
    val cellCodes = Pq.encode(
      residuals.select(col("__id"), col("__r")), "__id", "__r", codebook, m,
      normalize = false)
      .join(residuals.select(col("__id"), col("cell")), Seq("__id"))

    val queries = normed.filter(col("__id").isin(queryIds: _*))
      .select(col("__id").alias("q_id"), col("__v").alias("__qv"))
    // probe list WITH the per-cell base similarity dot(q, c)
    val probes = queries
      .join(broadcast(cents))
      .withColumn("__base", native.dotProduct(col("__qv"), col("__cv")))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("__base").desc, col("cell"))))
      .filter(col("__rk") <= nProbe)
      .select(col("q_id"), col("cell"), col("__base"))
    // LUT of q's raw subvectors vs the RESIDUAL codebook: dot(q, r) ≈ Σ lut
    val lut = Pq.queryLut(corpus, idCol, vecCol, queryIds, codebook, m)
    Similarity.rankTopK(
      cellCodes
        .join(broadcast(probes), Seq("cell"))
        .join(broadcast(lut), Seq("q_id", "sub", "code"))
        .filter(col("q_id") =!= col("__id"))
        .groupBy(col("q_id"), col("__id"))
        // every sub row carries the same __base for the (q, cell) pair —
        // first() is exact, and base + Σ lut reassembles dot(q, c + r)
        .agg((first(col("__base")) + sum(col("__d"))).alias("approx_sim"))
        .select(col("q_id"), col("__id").alias("n_id"), col("approx_sim").alias("sim")),
      k)
      .select(col("q_id"), col("rnk").cast("int").alias("rnk"),
        col("n_id"), round(col("sim"), 4).alias("approx_sim"))
  }

  /** PERSIST the inverted file: assignment rows written `partitionBy`
    * cell (one directory per cell) plus the centroid table — the
    * durable form of the index this file's Scaladoc promises ("at
    * 100 TB it would be written bucketed by cell id so probes become
    * partition-pruned scans"). Build once, amortize over every query
    * batch; [[searchIndex]] reads ONLY the probed cells' directories.
    * `iterations > 0` refines the coarse quantizer with spherical
    * k-means ([[trainCentroids]]) before assignment. */
  def writeIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      nCells: Int = 32,
      iterations: Int = 0): Unit = {
    val normed = normalized(corpus, idCol, vecCol)
    val cents =
      if (iterations > 0) trainCentroids(corpus, idCol, vecCol, nCells, iterations)
      else seedCentroids(normed, nCells)
    val assigned = assignTo(normed, cents)
    // cluster the write by cell: the partitioned writer otherwise emits
    // one file per (task × cell) — #tasks × nCells small files whose
    // open/commit overhead dominates both the write and every probe's
    // read (the write-distribution lesson); clustered, each cell is one
    // contiguous run per owning task → ~one file per cell, AQE-sized
    assigned.select(col("cell"), col("__id"), col("__v"))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    cents.write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Search a [[writeIndex]]-persisted inverted file. The probe list
    * (≤ queries × nProbe cell ids — bounded, never corpus-sized) is
    * collected and pushed as a STATIC partition filter, so the scan
    * reads `nProbe`-ish of `nCells` directories and the rest of the
    * corpus is never opened (partition pruning, pinned in
    * `PlanShapeSpec`). Queries are looked up by id inside the index
    * itself (footer-pruned scan on `__id`) — external query vectors
    * would skip that lookup but search identically. */
  def searchIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queryIds: Seq[Long],
      k: Int,
      nProbe: Int = 8): DataFrame = {
    val cents = spark.read.parquet(s"$path/centroids")
    val cells = spark.read.parquet(s"$path/cells")
    val queries = cells.filter(col("__id").isin(queryIds: _*))
      .select(col("__id").alias("q_id"), col("__v").alias("__qv"))
    val probes = queries
      .join(broadcast(cents))
      .withColumn("__sim", native.dotProduct(col("__qv"), col("__cv")))
      .withColumn("__rk", row_number().over(Window.partitionBy(col("q_id")).orderBy(col("__sim").desc, col("cell"))))
      .filter(col("__rk") <= nProbe)
      .select(col("q_id"), col("__qv"), col("cell"))
    val probedCells = probes.select(col("cell")).distinct().collect().map(_.get(0))
    val pruned = cells.filter(col("cell").isin(probedCells: _*))
    Similarity.rankTopK(
      probes
        .join(pruned.select(col("cell"), col("__id").alias("n_id"), col("__v").alias("__nv")), Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("sim", native.dotProduct(col("__qv"), col("__nv"))),
      k)
      .select(col("q_id"), col("rnk"), col("n_id"), round(col("sim"), 4).alias("sim"))
  }

  /** IVF top-k: probe the `nProbe` closest cells per query, exact-rank
    * within them. Output (q_id, rnk, n_id, sim) like the other ANN paths.
    * `centroids` overrides the deterministic seed quantizer with a
    * refined table (e.g. [[trainCentroids]]) — the search path is
    * identical either way, and with `nProbe = nCells` the result is
    * exactly brute force regardless of centroid quality (which is what
    * lets the trained variant share the exact oracle). */
  def topK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queryIds: Seq[Long],
      k: Int,
      nCells: Int = 32,
      nProbe: Int = 8,
      centroids: Option[DataFrame] = None): DataFrame = {
    val normed = normalized(corpus, idCol, vecCol)
    val cents = centroids.getOrElse(seedCentroids(normed, nCells))
    val assigned = assignTo(normed, cents)

    val queries = assigned.filter(col("__id").isin(queryIds: _*))
      .select(col("__id").alias("q_id"), col("__v").alias("__qv"))

    // probe list: nProbe closest centroids per query
    val probes = queries
      .join(broadcast(cents))
      .withColumn("__sim", native.dotProduct(col("__qv"), col("__cv")))
      .withColumn("__rk", row_number().over(Window.partitionBy(col("q_id")).orderBy(col("__sim").desc, col("cell"))))
      .filter(col("__rk") <= nProbe)
      .select(col("q_id"), col("__qv"), col("cell"))

    Similarity.rankTopK(
      probes
        .join(assigned.select(col("cell"), col("__id").alias("n_id"), col("__v").alias("__nv")), Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("sim", native.dotProduct(col("__qv"), col("__nv"))),
      k)
      .select(col("q_id"), col("rnk"), col("n_id"), round(col("sim"), 4).alias("sim"))
  }
}
