package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Change-data operators: changelog application (CDC upsert/delete
  * compaction) and snapshot diffing — the table-maintenance half of a
  * warehouse that the reference delegates to full rewrites
  * (`bronze_to_silver.py:95-101` re-appends whole days).
  *
  * Scale notes (100 TB):
  *   - [[applyChangelog]] is ONE partial+final aggregate keyed by the
  *     primary key — `max(struct(version, payload))` combines map-side,
  *     so the shuffle carries one row per (map task × key), not one row
  *     per change. A window `row_number` would sort every partition;
  *     the agg form never sorts.
  *   - [[snapshotDiff]] is one shuffle per side on the key (plain equi
  *     join); payload comparison rides an md5 digest computed in the
  *     map stage, so wide payloads never cross the network twice.
  */
object ChangeData {

  /** Compact a changelog to current state: keep the latest version per
    * key, drop keys whose latest operation is a delete.
    *
    * @param changes    changelog rows (any schema)
    * @param keyCols    primary-key columns
    * @param versionCol monotone version column (commit ts, LSN); ties
    *                   broken by the remaining payload's struct order,
    *                   so pass a unique version for full determinism
    * @param opCol      operation column; rows where it equals
    *                   `deleteOp` are tombstones
    */
  def applyChangelog(
      changes: DataFrame,
      keyCols: Seq[String],
      versionCol: String,
      opCol: String,
      deleteOp: String = "D"): DataFrame = {
    val payload = changes.columns.filterNot(keyCols.contains)
    // latest = lexicographic max over (version, payload...): a single
    // partial-aggregable max, no per-key sort anywhere in the plan
    val latest = changes
      .groupBy(keyCols.map(col): _*)
      .agg(max(struct(col(versionCol) +: payload.filterNot(_ == versionCol).map(col): _*))
        .alias("__latest"))
    val restored = keyCols.map(col) ++
      (versionCol +: payload.filterNot(_ == versionCol)).map(c => col(s"__latest.$c").alias(c))
    latest
      .select(restored: _*)
      .filter(col(opCol) =!= deleteOp)
      .select(changes.columns.map(col): _*)
  }

  /** MERGE INTO: the warehouse upsert statement — apply a source
    * relation to a target table with the classic three clauses, clause
    * order matching ANSI/Delta semantics:
    *
    *   - WHEN MATCHED AND `deleteWhen` THEN DELETE  (checked first)
    *   - WHEN MATCHED THEN UPDATE SET `updateSet`
    *   - WHEN NOT MATCHED [AND `insertWhen`] THEN INSERT
    *   - rows of `target` with no source match pass through unchanged
    *     (no NOT-MATCHED-BY-SOURCE clause — the reference has no
    *     equivalent either; compose with [[applyChangelog]] if needed)
    *
    * Expressions in `updateSet` / `deleteWhen` / `insertValues` /
    * `insertWhen` reference the two sides through the aliases `__t`
    * (target) and `__s` (source), e.g.
    * `col("__t.acctbal") + col("__s.delta")`.
    *
    * MERGE requires each target row to match at most one source row
    * (ANSI: "cardinality violation"); `checkDuplicateSourceKeys`
    * enforces it with one aggregate over the (small) source side.
    *
    * Scale notes (100 TB):
    *   - `broadcastSource = true` is the low-shuffle plan for the usual
    *     shape (huge target, small batch): matched/unmatched-target
    *     rows ride ONE broadcast hash left-outer join — the wide
    *     target never shuffles — and inserts come from a second,
    *     key-column-only pass of the source against the target's key
    *     projection. Spark cannot broadcast a full-outer join, so the
    *     general path (`broadcastSource = false`) is one shuffle per
    *     side on the key.
    *   - Pair with [[graft.store.SnapshotStore]] (see `mergeCommit`)
    *     so the rewrite publishes atomically.
    */
  def mergeInto(
      target: DataFrame,
      source: DataFrame,
      keyCols: Seq[String],
      updateSet: Map[String, Column],
      deleteWhen: Option[Column] = None,
      insertValues: Map[String, Column] = Map.empty,
      insertWhen: Option[Column] = None,
      broadcastSource: Boolean = false,
      checkDuplicateSourceKeys: Boolean = true): DataFrame = {
    require(keyCols.nonEmpty, "mergeInto needs at least one key column")
    require(updateSet.keySet.intersect(keyCols.toSet).isEmpty,
      "MERGE cannot update key columns")
    if (checkDuplicateSourceKeys) {
      val dups = source.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).alias("__n")).filter(col("__n") > 1).limit(1).count()
      require(dups == 0, "MERGE cardinality violation: duplicate keys in source")
    }
    val t = target.alias("__t")
    val s = source.select(
      keyCols.map(col) ++
        source.columns.filterNot(keyCols.contains).map(col) :+
        lit(true).alias("__s_present"): _*).alias("__s")
    val joinCond = keyCols.map(k => col(s"__t.$k") === col(s"__s.$k")).reduce(_ && _)

    def insertExpr(c: String): Column =
      insertValues.getOrElse(c,
        if (source.columns.contains(c)) col(s"__s.$c")
        else throw new IllegalArgumentException(
          s"insert value for target column '$c' is neither in source nor in insertValues"))

    // DELETE is a MATCHED clause: it must never suppress an unmatched
    // source row's insert. In the broadcast path every joined row has a
    // target side, so source presence alone means matched; the full
    // outer path needs both presence markers.
    def keepAgainst(matched: Column) = deleteWhen match {
      case Some(cond) => !(matched && coalesce(cond, lit(false)))
      case None       => lit(true)
    }

    if (broadcastSource) {
      // low-shuffle plan: the wide target rows never shuffle
      val updatedOrKept = t.join(broadcast(s), joinCond, "left_outer")
        .filter(keepAgainst(coalesce(col("__s_present"), lit(false))))
        .select(target.columns.map { c =>
          val matched = coalesce(col("__s_present"), lit(false))
          when(matched, updateSet.getOrElse(c, col(s"__t.$c")))
            .otherwise(col(s"__t.$c")).alias(c)
        }.toIndexedSeq: _*)
      // inserts: source anti-join against the target's KEY projection
      // (slim shuffle of key columns only, never the payload)
      val targetKeys = target.select(keyCols.map(col): _*).alias("__t")
      val inserts = s.join(targetKeys, joinCond, "left_anti")
        .filter(insertWhen.getOrElse(lit(true)))
        .select(target.columns.map { c =>
          (if (keyCols.contains(c)) col(s"__s.$c") else insertExpr(c)).alias(c)
        }.toIndexedSeq: _*)
      updatedOrKept.unionAll(inserts)
    } else {
      t.select(col("*"), lit(true).alias("__t_present")).alias("__t")
        .join(s, joinCond, "full_outer")
        .filter(keepAgainst(
          coalesce(col("__t_present"), lit(false)) && coalesce(col("__s_present"), lit(false))))
        .filter(
          coalesce(col("__t_present"), lit(false)) ||
            coalesce(insertWhen.getOrElse(lit(true)), lit(false)))
        .select(target.columns.map { c =>
          val matched = coalesce(col("__t_present"), lit(false)) &&
            coalesce(col("__s_present"), lit(false))
          val base =
            if (keyCols.contains(c)) coalesce(col(s"__t.$c"), col(s"__s.$c"))
            else when(coalesce(col("__t_present"), lit(false)) === false, insertExpr(c))
              .when(matched, updateSet.getOrElse(c, col(s"__t.$c")))
              .otherwise(col(s"__t.$c"))
          base.alias(c)
        }.toIndexedSeq: _*)
    }
  }

  /** Incremental materialized-aggregate maintenance: fold a fact DELTA
    * into a keyed aggregate snapshot without rescanning history — the
    * "incremental materialized view refresh" every warehouse runs
    * nightly. Maintains the algebraic aggregate state
    * (n, sum/min/max per measure), which re-derives count/sum/avg/
    * min/max exactly; the state combines associatively, so applying
    * deltas in any split/order equals the full recompute (pinned in
    * `ChangeDataSpec`).
    *
    * Scale shape (100 TB): each refresh aggregates ONLY the delta
    * (map-side partial + one key shuffle), then combines with the
    * key-cardinality-sized state — history facts are never re-read.
    * The state commits through [[graft.store.SnapshotStore]], so a
    * dashboard reading mid-refresh sees the previous complete state. */
  def aggState(facts: DataFrame, keyCols: Seq[String], measureCols: Seq[String]): DataFrame = {
    // cnt_<m> (non-null count) rides along so the state doubles as a
    // MaterializedAgg summary (avg = sum/cnt rewrites need it)
    val aggs = count(lit(1)).alias("n") +: measureCols.flatMap { m =>
      Seq(sum(col(m)).alias(s"sum_$m"), count(col(m)).alias(s"cnt_$m"),
        min(col(m)).alias(s"min_$m"), max(col(m)).alias(s"max_$m"))
    }
    facts.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Combine two aggregate states ([[aggState]] outputs) — associative
    * and commutative, the delta-fold step. */
  def combineAggStates(a: DataFrame, b: DataFrame, keyCols: Seq[String], measureCols: Seq[String]): DataFrame = {
    val aggs = sum(col("n")).alias("n") +: measureCols.flatMap { m =>
      Seq(sum(col(s"sum_$m")).alias(s"sum_$m"),
        sum(col(s"cnt_$m")).alias(s"cnt_$m"),
        min(col(s"min_$m")).alias(s"min_$m"),
        max(col(s"max_$m")).alias(s"max_$m"))
    }
    a.unionByName(b).groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Refresh the aggregate snapshot at `table` with a new fact delta:
    * state' = combine(state, aggState(delta)), committed atomically.
    * Bootstraps the table on first call. Returns the version. */
  def incrementalAggCommit(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      delta: DataFrame,
      keyCols: Seq[String],
      measureCols: Seq[String]): Long = {
    val d = aggState(delta, keyCols, measureCols)
    val next = graft.store.SnapshotStore.currentVersion(spark, table) match {
      case None => d
      case Some(v) =>
        combineAggStates(
          graft.store.SnapshotStore.readVersion(spark, table, v), d, keyCols, measureCols)
    }
    graft.store.SnapshotStore.commit(next, table)
  }

  /** [[mergeInto]] against a [[graft.store.SnapshotStore]] table: read
    * the current snapshot, merge, publish the result as the next
    * version (atomic visibility — a reader racing the merge sees the
    * previous complete snapshot, never a mix). Returns the committed
    * version. */
  def mergeCommit(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      source: DataFrame,
      keyCols: Seq[String],
      updateSet: Map[String, Column],
      deleteWhen: Option[Column] = None,
      insertValues: Map[String, Column] = Map.empty,
      insertWhen: Option[Column] = None,
      broadcastSource: Boolean = true): Long = {
    val merged = mergeInto(
      graft.store.SnapshotStore.read(spark, table), source, keyCols,
      updateSet, deleteWhen, insertValues, insertWhen, broadcastSource)
    graft.store.SnapshotStore.commit(merged, table)
  }

  /** Diff two snapshots of the same table: one row per key present in
    * either side, with `diff_status` ∈ added | removed | changed |
    * unchanged. Non-key columns are compared via an md5 digest of the
    * payload struct's JSON form (computed narrow, pre-shuffle; JSON
    * keeps field boundaries and null-vs-empty distinct, where a bare
    * concat would alias ("ab","c") with ("a","bc")). */
  def snapshotDiff(
      before: DataFrame,
      after: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    def digest(df: DataFrame): Column = {
      val payload = df.columns.filterNot(keyCols.contains).sorted
      md5(to_json(struct(payload.map(c => col(c).alias(c)): _*)))
    }
    val b = before.select(keyCols.map(col) :+ digest(before).alias("__h_before"): _*)
    val a = after.select(keyCols.map(col) :+ digest(after).alias("__h_after"): _*)
    b.join(a, keyCols, "full_outer")
      .select(keyCols.map(col) :+
        when(col("__h_before").isNull, lit("added"))
          .when(col("__h_after").isNull, lit("removed"))
          .when(col("__h_before") =!= col("__h_after"), lit("changed"))
          .otherwise(lit("unchanged"))
          .alias("diff_status"): _*)
  }
}
