package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality constraint checking — the expectations
  * report a warehouse runs before publishing a table (the reference
  * hard-codes its gate inline, `bronze_to_silver.py:88-93`; this is
  * the reusable form).
  *
  * Scale notes (100 TB): all row-level constraints (not-null, range,
  * set-membership, custom predicate) are evaluated in ONE scan — each
  * contributes a `sum(CASE)` to a single aggregate, so 20 constraints
  * cost one pass, not 20. Uniqueness adds one shuffle keyed by the
  * unique columns; referential integrity adds one left-anti join
  * (broadcast when the parent's key projection is small). Nothing else
  * touches the data.
  */
object DataQuality {

  sealed trait Constraint { def name: String }
  /** col must never be null. */
  final case class NotNull(colName: String) extends Constraint {
    def name = s"not_null($colName)"
  }
  /** col must lie in [lo, hi] when non-null. */
  final case class InRange(colName: String, lo: Double, hi: Double) extends Constraint {
    def name = s"in_range($colName,$lo,$hi)"
  }
  /** col must be one of the allowed values when non-null. */
  final case class InSet(colName: String, allowed: Seq[String]) extends Constraint {
    def name = s"in_set($colName)"
  }
  /** arbitrary row predicate must hold (nulls count as violations). */
  final case class Satisfies(label: String, predicate: Column) extends Constraint {
    def name = s"satisfies($label)"
  }
  /** the column tuple must be unique across the table. */
  final case class Unique(cols: Seq[String]) extends Constraint {
    def name = s"unique(${cols.mkString(",")})"
  }
  /** every non-null child key must exist in the parent's key column. */
  final case class RefIntegrity(childCol: String, parent: DataFrame, parentCol: String)
      extends Constraint {
    def name = s"ref_integrity($childCol)"
  }

  private def violation(c: Constraint): Option[Column] = c match {
    case NotNull(cn)      => Some(col(cn).isNull)
    case InRange(cn, lo, hi) => Some(col(cn).isNotNull && !col(cn).between(lo, hi))
    case InSet(cn, allowed)  => Some(col(cn).isNotNull && !col(cn).isin(allowed: _*))
    case Satisfies(_, p)  => Some(!coalesce(p, lit(false)))
    case _                => None // needs its own shuffle/join
  }

  /** One row per constraint: (constraint, violations, passed), ordered
    * by constraint name. */
  def report(df: DataFrame, constraints: Seq[Constraint]): DataFrame = {
    // single-scan part: every row-level constraint is one sum(CASE)
    val rowLevel = constraints.flatMap(c => violation(c).map(v => (c.name, v)))
    val scanned: Seq[DataFrame] =
      if (rowLevel.isEmpty) Nil
      else {
        val agg = df.agg(
          sum(when(rowLevel.head._2, 1L).otherwise(0L)).alias("v0"),
          rowLevel.tail.zipWithIndex.map { case ((_, v), i) =>
            sum(when(v, 1L).otherwise(0L)).alias(s"v${i + 1}")
          }: _*)
        Seq(agg.select(
          // one input row -> stack to (constraint, violations) rows
          explode(array(rowLevel.zipWithIndex.map { case ((n, _), i) =>
            struct(lit(n).alias("constraint"), col(s"v$i").alias("violations"))
          }: _*)).alias("r"))
          .select(col("r.constraint"), col("r.violations")))
      }
    val heavier: Seq[DataFrame] = constraints.collect {
      case u @ Unique(cols) =>
        val dups = df.groupBy(cols.map(col): _*)
          .agg(count(lit(1)).alias("__n"))
          .filter(col("__n") > 1)
          .agg(coalesce(sum(col("__n")), lit(0L)).alias("violations"))
        dups.select(lit(u.name).alias("constraint"), col("violations"))
      case r @ RefIntegrity(childCol, parent, parentCol) =>
        df.filter(col(childCol).isNotNull)
          .join(parent.select(col(parentCol).alias(childCol)).distinct(),
            Seq(childCol), "left_anti")
          .agg(count(lit(1)).alias("violations"))
          .select(lit(r.name).alias("constraint"), col("violations"))
    }
    (scanned ++ heavier)
      .reduce(_ unionAll _)
      .select(col("constraint"), col("violations"),
        (col("violations") === 0).alias("passed"))
      .orderBy(col("constraint"))
  }

  /** Two-level profiling, level 1: the APPROXIMATE screen. Every
    * constraint — including the "heavy" ones — is estimated in ONE scan
    * of `df` with NO shuffle of the data at all:
    *
    *  - row-level rules: the same `sum(CASE)` columns as [[report]]
    *    (these are already exact and single-scan);
    *  - `Unique`: `count(*) − approx_count_distinct(struct(cols))`
    *    (HyperLogLog++, relative error `rsd`), clamped at 0 — duplicate
    *    mass shows up as a distinct-count deficit without ever
    *    shuffling the key tuples;
    *  - `RefIntegrity`: child keys probe a broadcast Bloom filter built
    *    over the parent keys (one bounded parent-side aggregate, the
    *    [[RuntimeFilter]] machinery), so the anti-join disappears. Bloom
    *    filters have no false negatives, so every counted violation is
    *    REAL; false positives only UNDERcount (by ~fpp of true
    *    violations).
    *
    * `passed` therefore means "no violation signal at sketch precision".
    * The intended 100 TB workflow: run this screen first (one pass);
    * run the exact [[report]] — whose `Unique` shuffle and
    * `RefIntegrity` join are the expensive steps — only when the screen
    * flags a constraint or when a publication gate demands exact
    * counts. Output schema matches [[report]] with `est_violations`
    * in place of `violations`. */
  def reportApprox(
      df: DataFrame,
      constraints: Seq[Constraint],
      rsd: Double = 0.05,
      bloomExpectedItems: Long = -1L,
      bloomNumBits: Long = -1L): DataFrame = {
    val spark = df.sparkSession
    val estimates: Seq[(String, Column)] = constraints.map {
      case u @ Unique(cols) =>
        u.name -> greatest(
          count(lit(1)) - approx_count_distinct(struct(cols.map(col): _*), rsd),
          lit(0L))
      case r @ RefIntegrity(childCol, parent, parentCol) =>
        // auto-size the Bloom to the PARENT's cardinality (one
        // cheap count over the parent key column): a fixed 1 MB
        // filter saturates past ~1M keys, its false-positive rate
        // heads to 1, and the screen green-lights real dangling
        // refs — the opposite of its job. ~8 bits/key ≈ 2 % fpp.
        val expected =
          if (bloomExpectedItems > 0) bloomExpectedItems
          else math.max(parent.select(col(parentCol)).count(), 1L)
        val bits =
          if (bloomNumBits > 0) bloomNumBits
          else math.max(expected * 8L, 1L << 23)
        val bloom = RuntimeFilter.buildBloom(
          parent.select(col(parentCol)), parentCol, expected, bits)
        val miss =
          if (bloom == null) col(childCol).isNotNull // empty parent: every key dangles
          else col(childCol).isNotNull &&
            !RuntimeFilter.mightContainBroadcast(spark, bloom, col(childCol))
        r.name -> sum(when(miss, 1L).otherwise(0L))
      // row-level constraints: violation() is defined for every one
      case c => c.name -> sum(when(violation(c).get, 1L).otherwise(0L))
    }
    df.agg(
      estimates.head._2.alias("v0"),
      estimates.tail.zipWithIndex.map { case ((_, e), i) => e.alias(s"v${i + 1}") }: _*)
      .select(
        explode(array(estimates.zipWithIndex.map { case ((n, _), i) =>
          struct(lit(n).alias("constraint"), col(s"v$i").cast("long").alias("est_violations"))
        }: _*)).alias("r"))
      .select(col("r.constraint"), col("r.est_violations"),
        (col("r.est_violations") === 0).alias("passed"))
      .orderBy(col("constraint"))
  }
}
