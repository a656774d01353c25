package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge DataFrames — the companion to
  * [[Clustering]]'s connected components (dedup clusters); PageRank
  * ranks nodes by link structure (e.g. which suppliers a purchase graph
  * concentrates on, authority weighting for dedup keeper selection).
  *
  * Scale shape per iteration: ONE shuffle keyed by dst (the
  * contribution aggregate, partial+final) plus a join of the edge list
  * to the (nodes-sized) rank table — the rank table is pinned each
  * round ([[Graph.pin]]: localCheckpoint by default, reliable
  * `checkpoint()` via `checkpointDir` for executor-loss resilience),
  * the edge list is scanned from its own storage every
  * round and never materialized on the driver. Iterations are FIXED
  * (deterministic plans, SQL-replayable oracle), not convergence-tested:
  * at 100 TB you budget rounds, not epsilon.
  */
object Graph {

  /** Pin an iteration frame so lineage (and replanning) doesn't grow
    * with rounds. Two durability tiers:
    *
    *  - `checkpointDir = None` → `localCheckpoint`: blocks live on
    *    executors. Fastest, but an executor loss discards its blocks
    *    and the job DIES (local-checkpointed lineage is truncated — no
    *    recompute path). Fine on local[n] and short jobs.
    *  - `checkpointDir = Some(dir)` → reliable `checkpoint()` into a
    *    fault-tolerant store (HDFS/object store): a lost executor's
    *    partitions are re-read from the checkpoint files and the
    *    iteration continues. At 1000 executors over hours an executor
    *    loss is an EXPECTED event — long multi-round jobs should pass a
    *    dir and pay the write. */
  private def pin(df: DataFrame, checkpointDir: Option[String]): DataFrame =
    checkpointDir match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        if (!sc.getCheckpointDir.contains(dir)) sc.setCheckpointDir(dir)
        df.checkpoint(eager = true)
      case None => df.localCheckpoint(true)
    }

  /** Release the per-round pinned blocks of an ended iteration, keeping
    * the returned frame's own pin: localCheckpoint never unpersists by
    * itself, so an unreleased loop leaks one cached RDD per round per
    * call (the [[Clustering.connectedComponents]] lesson — repeated
    * runs in one JVM slow down as blocks accumulate). Reliable
    * `checkpoint()` frames resolve to no cached RDD here and are left
    * to their checkpoint dir's lifecycle. */
  private def release(pins: Seq[DataFrame], keep: DataFrame): Unit =
    pins.filter(_ ne keep)
      .flatMap(org.apache.spark.sql.graftbridge.Bridge.checkpointRdd)
      .foreach(_.unpersist(false))

  /** PageRank over an UNDIRECTED graph (callers pass each edge once;
    * both directions are added here, so no dangling-mass correction is
    * needed — every node that appears has out-degree ≥ 1).
    *
    * Returns (node, pr) after exactly `iterations` rounds of
    * `pr'(v) = (1−d)/N + d · Σ_{u~v} pr(u)/deg(u)` from the uniform
    * start 1/N. Pass `checkpointDir` for executor-loss resilience on
    * long runs (see [[pin]]). */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 3,
      damping: Double = 0.85,
      checkpointDir: Option[String] = None): DataFrame = {
    val pins = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def pinned(df: DataFrame): DataFrame = {
      val p = pin(df, checkpointDir)
      pins += p
      p
    }
    // materialize the symmetrized edge list ONCE: `edges` is typically a
    // derived frame (a join + distinct), and every iteration references
    // sym — without the checkpoint the whole upstream join re-executes
    // per round (measured 4.0 s → 2.1 s on the bench purchase graph)
    val sym = pinned(
      edges
        .select(col(srcCol).alias("src"), col(dstCol).alias("dst"))
        .unionAll(edges.select(col(dstCol).alias("src"), col(srcCol).alias("dst")))
        .distinct())
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).alias("deg"))
    val nodes = deg.select(col("src").alias("node"))
    // driver-free scalar N: broadcast one-row count, never .collect()
    val n = nodes.agg(count(lit(1)).alias("__n"))

    var pr = pinned(
      nodes.crossJoin(broadcast(n))
        .select(col("node"), (lit(1.0) / col("__n")).alias("pr")))
    for (_ <- 1 to iterations) {
      val contribs = sym
        .join(deg, Seq("src"))
        .join(pr, col("src") === col("node"))
        .select(col("dst"), (col("pr") / col("deg")).alias("__c"))
        .groupBy(col("dst"))
        .agg(sum(col("__c")).alias("__in"))
      pr = pinned(
        nodes
          .join(contribs, col("node") === col("dst"), "left")
          .crossJoin(broadcast(n))
          .select(
            col("node"),
            (lit(1.0 - damping) / col("__n") +
              lit(damping) * coalesce(col("__in"), lit(0.0))).alias("pr")))
    }
    release(pins.toSeq, keep = pr)
    pr
  }

  /** Synchronous label propagation (community detection) over an
    * UNDIRECTED graph: every node starts labeled with its own id; each
    * round it adopts the most frequent label among its neighbors. Ties
    * break to the node's CURRENT label when that label is among the
    * tied-max candidates, else to the MINIMUM candidate — deterministic
    * and SQL-replayable (the textbook random tie-break is neither), and
    * the prefer-current rule stops a single bridge edge from flooding
    * its label through an all-ties clique (pure min tie-break degrades
    * to connected components). Iterations are FIXED like [[pageRank]]:
    * budget rounds, not convergence.
    *
    * Scale shape per round: one shuffle keyed (node, label) for the
    * neighbor-label histogram (partial-aggregated map-side), one keyed
    * node for the max count, then a same-key join back + one agg to
    * resolve the tie-break — no windows, no driver collects. The label
    * table pins each round ([[pin]]) so lineage (and replanning)
    * doesn't grow with iterations; pass `checkpointDir` for
    * executor-loss resilience on long runs. */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 3,
      checkpointDir: Option[String] = None): DataFrame = {
    val pins = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def pinned(df: DataFrame): DataFrame = {
      val p = pin(df, checkpointDir)
      pins += p
      p
    }
    // same once-only edge materialization as [[pageRank]]
    val sym = pinned(
      edges
        .select(col(srcCol).alias("src"), col(dstCol).alias("dst"))
        .unionAll(edges.select(col(dstCol).alias("src"), col(srcCol).alias("dst")))
        .distinct())
    val nodes = sym.select(col("src").alias("node")).distinct()
    var lab = pinned(
      nodes.select(col("node"), col("node").alias("label")))
    for (_ <- 1 to iterations) {
      val hist = sym
        .join(lab, col("dst") === col("node"))
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).alias("__cnt"))
      val best = hist.groupBy(col("src")).agg(max(col("__cnt")).alias("__mx"))
      lab = pinned(
        hist
          .join(best, Seq("src"))
          .filter(col("__cnt") === col("__mx"))
          .join(lab.select(col("node"), col("label").alias("__cur")),
            col("src") === col("node"))
          .groupBy(col("src"))
          .agg(coalesce(
            max(when(col("label") === col("__cur"), col("label"))),
            min(col("label"))).alias("label"))
          .select(col("src").alias("node"), col("label")))
    }
    release(pins.toSeq, keep = lab)
    lab
  }
}
