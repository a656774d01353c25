package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Document deduplication for large-scale training-data pipelines.
  *
  * Four families, all shuffle-bounded and crossJoin-free:
  *
  *  - exact: hash-groupBy on a text digest — one shuffle keyed by digest.
  *  - MinHash + LSH: shingle → k-minhash signature → band hashes →
  *    self-join on (band index, band hash) buckets. Candidate generation
  *    cost is bounded by bucket sizes, never all-pairs; at 100 TB the
  *    band-hash shuffle partitions by (band, hash), which is uniform by
  *    construction (hashes are uniform) — no skew salting needed unless a
  *    single text is pathologically replicated, in which case the exact
  *    pass removes it first.
  *  - SimHash: 64-bit signature; near-dups = small Hamming distance.
  *  - n-gram Jaccard: exact verification on LSH candidates only.
  *
  * Everything is built from Spark higher-order functions (codegen-friendly
  * expressions, no UDFs); hashing is `xxhash64`, which is deterministic
  * across sessions and plans.
  */
object Dedup {

  /** Lowercased word tokens (whitespace split, empties removed). */
  def wordTokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** Distinct word n-gram shingles of a text column. */
  def shingles(text: Column, n: Int): Column = {
    val toks = wordTokens(text)
    array_distinct(
      transform(
        sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))
      ))
  }

  /** k-MinHash signature: each shingle is string-hashed ONCE
    * (xxhash64), and the k per-seed variants re-hash that 8-byte value
    * with the seed — constant cost per (shingle, seed) instead of
    * re-hashing the string k times, and no overflow under ANSI mode
    * (multiplicative mixers overflow-error in Spark 4's default ANSI).
    * Identical shingle sets ⇒ identical signatures; Jaccard(a,b) ≈
    * fraction of equal slots. */
  def minhashSignature(shingleCol: Column, k: Int): Column = {
    val baseHashes = transform(shingleCol, s => xxhash64(s))
    transform(
      sequence(lit(0), lit(k - 1)),
      i => array_min(transform(baseHashes, h => xxhash64(h, i)))
    )
  }

  /** MinHash-LSH index rows `(__id, __band, __bh)` for a corpus — the
    * table a production pipeline PERSISTS per ingested batch so that
    * tomorrow's batch dedups against 100 TB of history by scanning
    * ~3 longs × bands per historical doc instead of re-shingling the
    * text. The signature is computed once per doc (projected before the
    * band explode — see [[lshCandidatePairs]] for why that ordering is
    * load-bearing). */
  def lshIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      k: Int = 64,
      bands: Int = 16): DataFrame = {
    val rows = k / bands
    df
      .select(col(idCol).alias("__id"),
        graft.functions.native.wordShingles(col(textCol), shingleSize).alias("__sh"))
      .select(col("__id"), graft.functions.native.minhashSignature(col("__sh"), k).alias("__sig"))
      .select(col("__id"), col("__sig"), explode(sequence(lit(0), lit(bands - 1))).alias("__band"))
      .select(
        col("__id"),
        col("__band"),
        xxhash64(
          concat_ws(",", slice(col("__sig"), col("__band") * rows + 1, lit(rows))),
          col("__band")).alias("__bh"))
  }

  /** Candidate near-dup pairs (id1 < id2) from MinHash-LSH bucketing.
    *
    * @param df    input with an id column and a text column
    * @param k     signature length (bands * rowsPerBand)
    * @param bands number of LSH bands; P(candidate) = 1-(1-J^r)^b
    * @param maxBucket LSH buckets larger than this are dropped BEFORE the
    *                   per-bucket id list materializes, so the worst case
    *                   (a boilerplate-heavy corpus where thousands of
    *                   near-identical texts co-bucket in every band) is
    *                   bounded by construction: no unbounded
    *                   `collect_list` buffer, no quadratic pair blow-up.
    *                   A bucket that large is degenerate for NEAR-dup
    *                   detection anyway — exact duplicates in it are
    *                   caught by the exact digest pass
    *                   ([[exactDupGroups]]), which is why the two passes
    *                   are run together in practice. Audit drops with
    *                   [[lshBucketStats]]. */
  def lshCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      maxBucket: Int = 1000): DataFrame = {
    // Structure matters three times over (all measured at sf0.1):
    //  - the signature is the native codegen'd expression
    //    ([[graft.functions.MinHashSignature]]) — one compiled loop per
    //    doc instead of k·|shingles| interpreted lambda calls;
    //  - the band index is exploded BEFORE the band-hash projection, so
    //    the signature is an attribute passing through the Generate and
    //    is computed once per doc, never once per band (CollapseProject
    //    inlines a multiply-referenced signature into a generator);
    //  - candidate pairs come from groupBy(bucket)+collect_list, NOT a
    //    bucket self-join: a self-join evaluates the whole
    //    shingle+signature subtree once per side (2×), and a filter on
    //    the shingle column inlines the pipeline yet again. One pass,
    //    one shuffle keyed by (band, hash).
    // Precondition: pre-filter empty/whitespace-only texts upstream (they
    // all share the degenerate single-shingle signature and would
    // co-bucket into one giant bucket).
    val banded = lshIndex(df, idCol, textCol, shingleSize, k, bands)

    // bucket-size cap: a windowed count over the bucket key filters
    // oversized buckets BEFORE collect_list ever aggregates them. The
    // window and the groupBy hash-partition on the same (band, hash) key,
    // so EnsureRequirements inserts exactly ONE shuffle — the cap is free.
    banded
      .withColumn("__bn", count(lit(1)).over(Window.partitionBy(col("__band"), col("__bh"))))
      .filter(col("__bn") > 1 && col("__bn") <= maxBucket)
      .groupBy(col("__band"), col("__bh"))
      .agg(collect_list(col("__id")).alias("__ids"))
      .select(explode(pairCombinations(col("__ids"))).alias("__p"))
      .select(col("__p.id1"), col("__p.id2"))
      .distinct()
  }

  /** Bucket-occupancy audit for [[lshCandidatePairs]]: per-bucket sizes,
    * descending — run before a production dedup to pick `maxBucket` and
    * to see what a cap would drop (the drop itself is silent in the plan;
    * this is the loud counterpart). */
  def lshBucketStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      k: Int = 64,
      bands: Int = 16): DataFrame = {
    val rows = k / bands
    df.select(col(idCol).alias("__id"),
      graft.functions.native.wordShingles(col(textCol), shingleSize).alias("__sh"))
      .select(col("__id"), graft.functions.native.minhashSignature(col("__sh"), k).alias("__sig"))
      .select(col("__id"), col("__sig"), explode(sequence(lit(0), lit(bands - 1))).alias("__band"))
      .select(
        col("__band"),
        xxhash64(
          concat_ws(",", slice(col("__sig"), col("__band") * rows + 1, lit(rows))),
          col("__band")).alias("__bh"))
      .groupBy(col("__band"), col("__bh"))
      .agg(count(lit(1)).alias("bucket_size"))
      .orderBy(col("bucket_size").desc)
  }

  /** All unordered id pairs within a bucket, as (id1 < id2) structs:
    * flatten of per-position suffix products. Bucket sizes are
    * LSH-bounded, so the quadratic is local and small by construction.
    * Shared with [[Similarity]]'s vector LSH path (same bucket shape). */
  private[ops] def pairCombinations(ids: Column): Column =
    flatten(
      transform(
        ids,
        (x, i) =>
          transform(
            slice(ids, i + 2, greatest(size(ids) - i - 1, lit(1))),
            y => struct(least(x, y).alias("id1"), greatest(x, y).alias("id2")))))

  /** LSH candidates verified by exact word-shingle Jaccard ≥ threshold.
    * The expensive O(candidates) verification joins text back only for
    * surviving pairs — candidate count is LSH-bounded, never n². */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleSize: Int = 3,
      k: Int = 64,
      bands: Int = 16): DataFrame = {
    val cands = lshCandidatePairs(df, idCol, textCol, shingleSize, k, bands)
    verifyJaccard(cands, df, idCol, textCol, threshold, shingleSize)
  }

  /** Incremental near-dup detection: a NEW batch against an already-
    * ingested history — the shape a production corpus pipeline actually
    * runs daily (never all-pairs over 100 TB; [[nearDupPairs]] is the
    * bootstrap, this is the steady state). Ids of `history` and `batch`
    * must be disjoint (caller's contract).
    *
    * Candidates = (batch × history co-bucketed pairs) ∪ (batch × batch
    * via [[lshCandidatePairs]]); history-internal pairs are by
    * construction already known and never recomputed. Verification is
    * exact shingle Jaccard on candidates only.
    *
    * Scale shape: the batch's band keys (|batch| · bands rows) BROADCAST
    * against the history index, so the history side never shuffles into
    * the candidate join — and the history index is PROBE-PRUNED first: a
    * broadcast semi-join on the batch's distinct bucket keys drops every
    * history row whose bucket the batch never probes BEFORE the
    * occupancy-cap window runs, so the only history exchange is sized by
    * probed buckets (∝ |batch| · occupancy), not by |history|. Pruning
    * is result-identical: un-probed buckets can produce no candidates,
    * and probed buckets keep ALL their history rows, so the occupancy
    * count each bucket caps on is unchanged. Both sides get the same
    * `maxBucket` occupancy cap (batch-side degenerate buckets would
    * otherwise multiply every probed history bucket they touch) —
    * NOTE the cap itself is a bounded-recall contract, not result-
    * identical: a bucket holding > maxBucket near-identical docs
    * contributes no candidates, exactly the standing
    * [[lshCandidatePairs]] contract (raise `maxBucket` to trade cost
    * for recall on adversarial corpora). In
    * production the persisted index ([[lshIndex]]) replaces even the
    * re-derivation done here. Verification joins re-shingle only the
    * docs that appear in surviving candidate pairs. */
  def incrementalNearDupPairs(
      history: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleSize: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      maxBucket: Int = 1000): DataFrame = {
    val bKeys = lshIndex(batch, idCol, textCol, shingleSize, k, bands)
      .withColumn("__bn", count(lit(1)).over(Window.partitionBy(col("__band"), col("__bh"))))
      .filter(col("__bn") <= maxBucket)
      .select(col("__id").alias("__bid"), col("__band"), col("__bh"))
    val probed = bKeys.select(col("__band"), col("__bh")).distinct()
    val hKeys = lshIndex(history, idCol, textCol, shingleSize, k, bands)
      .join(broadcast(probed), Seq("__band", "__bh"), "left_semi")
      .withColumn("__bn", count(lit(1)).over(Window.partitionBy(col("__band"), col("__bh"))))
      .filter(col("__bn") <= maxBucket)
      .select(col("__id").alias("__hid"), col("__band"), col("__bh"))
    val cross = broadcast(bKeys)
      .join(hKeys, Seq("__band", "__bh"))
      .select(
        least(col("__bid"), col("__hid")).alias("id1"),
        greatest(col("__bid"), col("__hid")).alias("id2"))
    val intra = lshCandidatePairs(batch, idCol, textCol, shingleSize, k, bands, maxBucket)
    val cands = cross.unionAll(intra).distinct()
    // Verification is the shared [[verifyJaccard]] (the ssjoin/LSH path):
    // it semi-prunes the corpus to candidate docs BEFORE shingling — the
    // former inline verify shingled history ∪ batch in full, two extra
    // corpus passes at 100 TB — and compares 64-bit shingle hashes, so
    // the verify joins move long arrays (~10× narrower than shingle
    // strings). Hash-Jaccard ≡ string-Jaccard up to 64-bit collisions
    // (p ≈ n²/2⁶⁴ per pair) — the same contract every other dedup
    // family's verification already carries.
    verifyJaccard(cands, history.unionByName(batch), idCol, textCol, threshold, shingleSize)
  }

  /** Fuzzy string matching via prefix blocking + bounded edit distance —
    * the entity-resolution companion to the shingle paths (catches
    * typo-level variants that share almost all shingles' CHARACTERS but
    * not the shingles themselves). The self-join is a hash equi-join on
    * the `blockLen`-char prefix (never a cartesian product), and the
    * Levenshtein runs with the THRESHOLD variant, which abandons a pair
    * early once the running distance exceeds `maxDist` — O(maxDist·len)
    * per pair, not O(len²). Blocking trades recall for scale by
    * construction (a typo inside the prefix escapes the block) — the
    * standard multi-pass answer is a second run keyed on a different
    * block (e.g. suffix), unioned. */
  def editDistancePairs(
      df: DataFrame,
      strCol: String,
      blockLen: Int,
      maxDist: Int): DataFrame = {
    val names = df.select(col(strCol).alias("__s")).distinct()
      .withColumn("__blk", substring(col("__s"), 1, blockLen))
    val a = names.select(col("__blk"), col("__s").alias("name1"))
    val b = names.select(col("__blk"), col("__s").alias("name2"))
    a.join(b, Seq("__blk"))
      .filter(col("name1") < col("name2"))
      .withColumn("dist", levenshtein(col("name1"), col("name2"), maxDist))
      // threshold variant returns -1 when the bound is exceeded
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("name1"), col("name2"), col("dist"))
  }

  /** Chunk-overlap near-dup pairs: document pairs sharing at least
    * `minShared` content-defined chunks
    * ([[graft.ops.TextAnalysis.contentDefinedChunks]]). Because CDC
    * chunk identity is edit-stable, two revisions of a document share
    * every chunk outside their edited regions — so shared-chunk count
    * is a structural containment signal that survives local edits,
    * where whole-doc digests (exact dedup) see nothing and
    * shingle-Jaccard needs the full pairwise estimate. Scale shape:
    * one shuffle keyed by chunk digest, in-bucket pair combinations
    * with an occupancy cap (the [[lshCandidatePairs]] idiom — never an
    * all-pairs join), one pair-keyed count. */
  def chunkOverlapPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      modulus: Int = 16,
      minShared: Int = 3,
      maxBucket: Int = 1000): DataFrame =
    TextAnalysis.contentDefinedChunks(df, idCol, textCol, modulus)
      .groupBy(col("chunk_digest"))
      .agg(collect_set(col(idCol)).alias("__ids"))
      .filter(size(col("__ids")) > 1 && size(col("__ids")) <= maxBucket)
      .select(explode(pairCombinations(col("__ids"))).alias("__p"))
      .select(col("__p.id1"), col("__p.id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).alias("shared_chunks"))
      .filter(col("shared_chunks") >= minShared)

  /** EXACT set-similarity join via prefix filtering (the AllPairs /
    * PPJoin family) — every pair with shingle Jaccard ≥ `threshold`,
    * with recall 1.0 by theorem, not by tuning. The lossless complement
    * of [[nearDupPairs]]: MinHash-LSH trades recall for bucket
    * uniformity; the prefix filter keeps exactness and gets its bound
    * from the similarity itself.
    *
    * How: order all shingles by ascending document frequency (rarest
    * first, ties by value — one global aggregate, no sort of the
    * corpus); a doc of n shingles exposes only its first
    * `n − ⌈τ·n⌉ + 1` ordered shingles as candidate keys. Two docs with
    * J ≥ τ share ≥ ⌈τ·max(n₁,n₂)⌉ shingles, so their prefixes must
    * intersect (take the globally smallest common shingle e: a prefix
    * that misses e fits all common shingles into its last ⌈τ·n⌉ − 1
    * slots — too few). Pairs therefore co-occur in ≥ 1 prefix bucket;
    * exact Jaccard verification then drops false candidates.
    *
    * Scale shape (100 TB): one df aggregate keyed by shingle, one
    * doc-keyed regroup to order prefixes, one prefix-keyed bucket
    * shuffle with the [[lshCandidatePairs]] occupancy-cap idiom
    * (prefix tokens are the RAREST in each doc, so buckets are small by
    * construction — df(tok) bounds the bucket), and verification joins
    * shingle sets back for the candidate set only. Never all-pairs.
    * `maxBucket` only bites on degenerate corpora (one text replicated
    * n×, which the exact pass removes first — same contract as LSH).
    *
    * `maxCandidatePairs > 0` arms a FAIL-FAST candidate budget: exact
    * set-similarity join is data-dependent by nature — a corpus with
    * large boilerplate clusters (many docs sharing rare-ish shingles)
    * generates candidate pairs super-linearly, and the failure mode
    * without a guard is tens of GB of shuffle spill followed by an
    * opaque executor OOM (observed on an adversarial 500 k-doc corpus:
    * 77 GB of spill). With the budget armed, the exact pair count the
    * prefix buckets will emit (Σ per-bucket nC2, after the `maxBucket`
    * cap) is computed from the SAME exchange before any pair
    * materializes, and the join aborts with the remediation knobs named
    * (raise `threshold`, lower `maxBucket`, or use the LSH twin
    * [[nearDupPairs]]) instead of melting the cluster. The armed path
    * persists the prefix rows (MEMORY_AND_DISK) so the tokenize + shingle
    * + explode lineage is computed ONCE, shared by the estimate and the
    * candidate join; within budget, the candidates (≤ budget rows by the
    * check itself) are pinned via an eager localCheckpoint and the
    * prefix cache is released before verification runs — nothing stays
    * pinned in the block manager after the call returns. Off by
    * default. */
  def prefixFilterJoin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleSize: Int = 3,
      maxBucket: Int = 4096,
      maxCandidatePairs: Long = 0L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1], got $threshold")
    val pref = prefixRows(df, idCol, textCol, threshold, shingleSize)
    def candsFrom(p: DataFrame): DataFrame =
      prefixBucketCandidates(p, threshold, maxBucket)
    val cands =
      if (maxCandidatePairs > 0) {
        // EXACTLY the pair count the buckets will emit: Σ_buckets
        // bn·(bn-1)/2 after the same >1 / ≤maxBucket occupancy filter.
        // `pref` is persisted while armed so its tokenize+shingle+explode
        // lineage runs once for the estimate AND the candidate join (the
        // guard matters most on exactly the corpora where that lineage is
        // expensive). Within budget the candidate rows are ≤ the budget
        // by this very check, so the eager localCheckpoint that pins them
        // is bounded — and it lets the pref cache be released before the
        // (lazy) verification join ever runs.
        val prefP = pref.persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val est = prefP
            .groupBy(col("__ptok")).agg(count(lit(1)).alias("__bn"))
            .filter(col("__bn") > 1 && col("__bn") <= maxBucket)
            .agg(coalesce(sum(col("__bn") * (col("__bn") - 1)), lit(0L)).cast("long"))
            .head.getLong(0) / 2
          if (est > maxCandidatePairs)
            throw new IllegalStateException(
              s"prefixFilterJoin would generate $est candidate pairs " +
                s"(budget $maxCandidatePairs): the corpus has large near-identical " +
                s"clusters at threshold=$threshold. Raise threshold, lower " +
                s"maxBucket (=$maxBucket), or use the LSH path (nearDupPairs).")
          QueryCaches.trackCheckpoint(candsFrom(prefP).localCheckpoint(true))
        } finally prefP.unpersist(false)
      } else candsFrom(pref)
    verifyJaccard(cands, df, idCol, textCol, threshold, shingleSize)
  }

  /** Ordered prefix rows `(__id, __n, __pos, __ptok)` of the prefix
    * filter — extracted so the candidate plan stays independently
    * explainable (the full join checkpoints candidates eagerly, which
    * hides this subtree from the final query's plan). */
  private[graft] def prefixRows(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleSize: Int): DataFrame = {
    // NO size filter on __sh: wordShingles never returns an empty array
    // (the empty text collapses to [""]), a null text yields null and
    // `explode` emits nothing for it — while a pushed-down
    // `size(__sh) > 0` predicate would re-evaluate the shingle kernel
    // per row (the duplicated-projection disease measured on the CDC
    // path at sf10)
    val base = df.select(
      col(idCol).alias("__id"),
      graft.functions.native.wordShingles(col(textCol), shingleSize).alias("__sh"))
    // Candidate generation never needs the shingle STRING — only a stable
    // identity to count df, order prefixes, and key buckets — so every
    // shingle is replaced by its 64-bit xxhash64 image right after the
    // explode: the df aggregate, the df-attach join, the per-doc regroup
    // (collect_list of (df, tok) structs) and the prefix-bucket exchange
    // all carry 8-byte longs instead of ~25-byte shingle strings (guide
    // §2.3 "shuffle keys and metadata instead of payloads"). Exactness is
    // preserved: the prefix-filter theorem holds for ANY fixed global
    // total order on the token universe — (df, hash) is one; rarest-first
    // is only the bucket-size heuristic, which df still provides — and a
    // 64-bit collision between distinct shingles can only MERGE buckets,
    // growing the candidate superset, never hiding a true pair (two docs
    // sharing a shingle always share its hash). The exact verification
    // pass ([[verifyJaccard]], which already compares xxhash64 shingle
    // images) removes any collision-born false candidates.
    val ex = base.select(col("__id"), explode(col("__sh")).alias("__s"))
      .select(col("__id"), xxhash64(col("__s")).alias("__tok"))
    val dfreq = ex.groupBy(col("__tok")).agg(count(lit(1)).alias("__df"))
    // rarest-first global order, materialized per doc: sort each doc's
    // own (df, tok) structs — a narrow array_sort after the regroup,
    // never a corpus-wide sort
    val ordered = ex.join(dfreq, "__tok")
      .groupBy(col("__id"))
      .agg(sort_array(collect_list(struct(col("__df"), col("__tok")))).alias("__o"))
    val prefLen = greatest(
      size(col("__o")) - ceil(size(col("__o")) * threshold).cast("int") + 1, lit(1))
    ordered.select(
      col("__id"),
      size(col("__o")).alias("__n"),
      posexplode(slice(transform(col("__o"), x => x("__tok")), lit(1), prefLen))
        .as(Seq("__pos", "__ptok")))
  }

  /** Candidate pairs from prefix-bucket co-occurrence over
    * [[prefixRows]] output. Two candidate prunes run BEFORE the
    * expensive verify joins, both free (their inputs ride the same
    * bucket shuffle):
    *  - AllPairs LENGTH filter: J ≥ τ forces |y| ≥ τ·|x| (and
    *    symmetrically) — wildly different sizes never qualify.
    *  - PPJoin POSITIONAL filter: meeting at 0-based prefix positions
    *    (i, j) bounds the overlap by 1 + min(n1−i−1, n2−j−1) (only
    *    later-ordered tokens can still match under the shared global
    *    order), while J ≥ τ needs ≥ ⌈τ/(1+τ)·(n1+n2)⌉ — pairs whose
    *    BEST meeting position can't reach the bound are dropped by the
    *    same groupBy that dedups multi-bucket pairs. */
  private[graft] def prefixBucketCandidates(
      p: DataFrame,
      threshold: Double,
      maxBucket: Int): DataFrame = p
      .withColumn("__bn", count(lit(1)).over(Window.partitionBy(col("__ptok"))))
      .filter(col("__bn") > 1 && col("__bn") <= maxBucket)
      .groupBy(col("__ptok"))
      .agg(collect_list(struct(col("__id"), col("__n"), col("__pos"))).alias("__ms"))
      .select(explode(pairCombinations(col("__ms"))).alias("__p"))
      .select(
        col("__p.id1.__id").alias("id1"), col("__p.id1.__n").alias("__n1"),
        col("__p.id1.__pos").alias("__i"),
        col("__p.id2.__id").alias("id2"), col("__p.id2.__n").alias("__n2"),
        col("__p.id2.__pos").alias("__j"))
      .filter(
        col("__n2") >= ceil(col("__n1") * threshold) &&
          col("__n1") >= ceil(col("__n2") * threshold))
      .groupBy(col("id1"), col("id2"))
      .agg(
        max(lit(1) + least(col("__n1") - col("__i") - 1, col("__n2") - col("__j") - 1))
          .alias("__ub"),
        first(col("__n1")).alias("__n1"), first(col("__n2")).alias("__n2"))
      // epsilon slack keeps knife-edge integer cases where the float
      // image of τ/(1+τ) rounds up — errs toward verifying, never
      // toward dropping a true pair
      .filter(col("__ub").cast("double") >=
        (col("__n1") + col("__n2")) * lit(threshold / (1 + threshold)) - lit(1e-9))
      .select(col("id1"), col("id2"))

  /** Exact shingle-Jaccard verification of candidate (id1, id2) pairs:
    * shared by the LSH and prefix-filter paths. Joins shingle sets back
    * for candidates only — cost is O(candidates), never n². */
  private[ops] def verifyJaccard(
      cands: DataFrame,
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleSize: Int): DataFrame = {
    // Only docs that appear in some candidate pair are ever compared —
    // semi-prune the corpus to them BEFORE shingling (the former shape
    // re-shingled the FULL corpus once per join side: two extra corpus
    // passes at 100 TB to verify a candidate set touching a few percent
    // of it), and compare 64-bit shingle HASHES, not shingle strings:
    // |A∩B| and |A∪B| are hash-collision-exact (p ≈ n²/2⁶⁴ per pair),
    // the long arrays are ~10× smaller through the two verify shuffles,
    // and the set ops compare longs instead of strings. The candidate
    // set is consumed three times (id prune + both verify joins) and its
    // LSH lineage is the expensive corpus pass — materialize it ONCE
    // through an eager localCheckpoint (pair-sized by the bucket cap;
    // a lazy persist was A/B'd in round-17 and measured ~2× SLOWER on
    // every verify-heavy dedup query: the full candidate lineage then
    // rides the final plan once per consumer and the giant plan's
    // compile+codegen swamps the saved job). The pruned shingle side
    // stays LAZY: each join side recomputes scan+semi+shingle over
    // candidate docs only, which measures cheaper at sf10 than
    // materializing the shingle arrays through a checkpoint.
    val c = QueryCaches.trackCheckpoint(cands.localCheckpoint(true))
    // ids is BROADCAST explicitly: the candidate subtree carries no
    // usable size estimate (LSH explode/aggregate estimates are wildly
    // pessimistic), so the planner otherwise sort-merges this semi join —
    // and because the corpus side is typically a UNION of filtered
    // branches, the semi join is pushed into EVERY branch: measured at
    // sf0.1, dd_incremental planned 8 SortMergeJoin LeftSemi nodes, each
    // shuffling its corpus slice AND re-aggregating ids (1.0 → 2.7-3.8 s
    // warm). Broadcast turns all of them into map-side hash semi joins
    // over ONE shared (reused) broadcast of the distinct candidate doc
    // ids — bounded by 2·|candidates|, which the bucket caps and the
    // fail-fast budget already bound; a corpus whose candidate set is
    // too big to broadcast is exactly the corpus the budget refuses.
    val ids = broadcast(
      c.select(col("id1").alias("__jid"))
        .unionAll(c.select(col("id2").alias("__jid")))
        .distinct())
    val sh = df.select(col(idCol).alias("__jid"), col(textCol).alias("__jtx"))
      .join(ids, Seq("__jid"), "left_semi")
      .select(col("__jid"),
        transform(
          graft.functions.native.wordShingles(col("__jtx"), shingleSize),
          s => xxhash64(s)).alias("__jsh"))
    c
      .join(sh.withColumnRenamed("__jid", "id1").withColumnRenamed("__jsh", "__sh1"), Seq("id1"))
      .join(sh.withColumnRenamed("__jid", "id2").withColumnRenamed("__jsh", "__sh2"), Seq("id2"))
      .withColumn("jaccard", jaccard(col("__sh1"), col("__sh2")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Exact Jaccard similarity of two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Exact-duplicate groups via digest hash-groupBy: one shuffle keyed by
    * md5(text). Returns (digest, dup_count, keeper_id) for groups > 1. */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).alias("text_md5"))
      .agg(count(lit(1)).alias("dup_count"), min(col(idCol)).alias("keeper_id"))
      .filter(col("dup_count") > 1)

  /** Exact dedup keeping the smallest id per distinct text — the
    * hash-groupBy form (shuffles digest+id, not full rows). */
  def exactDedupIds(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).alias("text_md5"))
      .agg(min(col(idCol)).alias(idCol))
      .select(idCol)

  /** 64-bit SimHash from word tokens: bit j of the signature is set iff
    * the sum over tokens of ±1 (sign of bit j of xxhash64(token)) is
    * positive. Pure higher-order expressions — no UDF. */
  def simhash64(text: Column): Column = {
    val toks = wordTokens(text)
    // dynamic shift amounts need call_function: the Scala DSL's
    // shiftleft/shiftright only accept literal Int shifts
    val counts = aggregate(
      toks,
      array_repeat(lit(0L), 64),
      (acc, t) =>
        zip_with(
          acc,
          transform(
            sequence(lit(0), lit(63)),
            i => when(call_function("shiftright", xxhash64(t), i).bitwiseAND(1) === 1, lit(1L)).otherwise(lit(-1L))),
          (a, b) => a + b
        )
    )
    aggregate(
      zip_with(
        counts,
        sequence(lit(0), lit(63)),
        (c, i) => when(c > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L),
      (s, x) => s.bitwiseOR(x)
    )
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash BANDED near-dup pairs — the SimHash counterpart of MinHash
    * LSH, and the operator that makes a simhash signature useful at
    * scale (pairwise Hamming over a corpus is n²; banding is not).
    *
    * The `bits`-bit portable signature is sliced into `bands`
    * contiguous `bits/bands`-bit slices; two docs become CANDIDATES iff
    * they agree on at least one slice (pigeonhole guarantee: any pair
    * within Hamming distance `bands − 1` differs in fewer bits than
    * there are bands, so some band holds no differing bit and they MUST
    * collide — recall 1.0 below that distance, probabilistic above).
    * Candidates then pay the exact Hamming check; only pairs ≤
    * `maxHamming` survive.
    *
    * Scale shape mirrors [[lshCandidatePairs]]: one shuffle keyed
    * (band, slice), bucket-occupancy cap BEFORE collect_list, pairs via
    * in-bucket combinations — never an all-pairs join. The signature is
    * computed once per doc and rides through the band generator as an
    * attribute. */
  def simhashBandPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bits: Int = 48,
      bands: Int = 4,
      maxHamming: Int = 6,
      maxBucket: Int = 1000): DataFrame = {
    require(bits % bands == 0, s"bits ($bits) must divide into bands ($bands)")
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    val sigs = df.select(col(idCol).alias("__id"), simhashPortable(col(textCol), bits).alias("__sig"))
    val banded = sigs
      .select(col("__id"), col("__sig"),
        explode(sequence(lit(0), lit(bands - 1))).alias("band"))
      .withColumn("slice",
        call_function("shiftright", col("__sig"), col("band") * bandBits).bitwiseAND(mask))
    val cands = banded
      .withColumn("__bn", count(lit(1)).over(Window.partitionBy(col("band"), col("slice"))))
      .filter(col("__bn") > 1 && col("__bn") <= maxBucket)
      .groupBy(col("band"), col("slice"))
      .agg(collect_list(col("__id")).alias("__ids"))
      .select(explode(pairCombinations(col("__ids"))).alias("__p"))
      .select(col("__p.id1").alias("id1"), col("__p.id2").alias("id2"))
      .distinct()
    cands
      .join(sigs.select(col("__id").alias("id1"), col("__sig").alias("__s1")), Seq("id1"))
      .join(sigs.select(col("__id").alias("id2"), col("__sig").alias("__s2")), Seq("id2"))
      .withColumn("hamming", hamming64(col("__s1"), col("__s2")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming"))
  }

  /** Portable SimHash: per-token hash = first 60 bits of md5 (hex-parsed),
    * 48 signature bits. Bit-for-bit reproducible in ANY engine with md5 —
    * the `dd_simhash_md5` entry's DuckDB oracle recomputes the whole
    * signature, giving SimHash a full value oracle ([[simhash64]] stays
    * the production path: xxhash64 is much cheaper than a string md5 per
    * token, but is Spark-specific and hence rows-only at the gate).
    *
    * Evaluates through the native codegen'd kernel
    * ([[graft.functions.SimHashPortable]]) — one compiled loop per doc
    * instead of the higher-order-function pipeline, whose lambdas run
    * interpreted per (token × bit). [[simhashPortableHof]] keeps the
    * replayable reference form; `DedupSpec` pins the two equal. */
  def simhashPortable(text: Column, bits: Int = 48): Column =
    graft.functions.native.simhashPortable(text, bits)

  /** Higher-order-function reference implementation of
    * [[simhashPortable]] — the SQL-replayable form the DuckDB oracle
    * mirrors, kept as the parity witness for the native kernel. */
  def simhashPortableHof(text: Column, bits: Int = 48): Column = {
    val toks = wordTokens(text)
    val hashes = transform(toks, t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))
    val counts = aggregate(
      hashes,
      array_repeat(lit(0L), bits),
      (acc, h) =>
        zip_with(
          acc,
          transform(
            sequence(lit(0), lit(bits - 1)),
            j => when(call_function("shiftright", h, j).bitwiseAND(1) === 1, lit(1L)).otherwise(lit(-1L))),
          (a, b) => a + b
        )
    )
    // signature bits are disjoint, so a plain sum assembles the word —
    // portable to engines without an aggregate bitwise OR
    aggregate(
      zip_with(
        counts,
        sequence(lit(0), lit(bits - 1)),
        (c, j) => when(c > 0, call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))),
      lit(0L),
      (s, x) => s + x
    )
  }

  /** Exact-substring duplicated-SPAN detection — the sequence-level
    * dedup of Lee et al. 2021 ("Deduplicating Training Data Makes
    * Language Models Better"), re-expressed at word-`k`-gram
    * granularity so it runs as plain shuffles instead of a distributed
    * suffix array: a token position is duplicated iff some `k`-gram
    * covering it also occurs in at least `minDocs − 1` OTHER documents;
    * maximal runs of duplicated positions are merged into spans.
    * Document-level dedup (MinHash/SimHash) misses exactly this case —
    * two mostly-distinct documents sharing one long boilerplate block —
    * which is why span dedup is the standard second pass on web-scale
    * training corpora.
    *
    * Returns one row per input document:
    * `(id, n_tokens, n_dup_spans, dup_tokens, dup_frac, keep)` where
    * `dup_tokens` counts positions covered by ≥1 duplicated `k`-gram
    * and `keep = dup_frac ≤ maxDupFrac` (the usual gate drops or trims
    * documents that are mostly boilerplate).
    *
    * Cross-engine determinism: grams are keyed by `md5` of the joined
    * token window, so an external engine replays the exact hash.
    *
    * Scale shape (100 TB): one exchange of `(doc, pos, md5)` gram rows
    * keyed by digest for the occurrence count (distinct `(doc, gram)`
    * first, so the count is partial-aggregable and intra-doc repeats
    * don't inflate it), one digest-keyed join back to positions, then
    * the span merge — a classic gaps-and-islands pass — runs under a
    * window PARTITIONED BY document (never global), bounded per task by
    * the document's own token count. Digests (32-char md5) ride the
    * shuffles, never the text. No all-pairs stage anywhere.
    */
  def duplicatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      minDocs: Int = 2,
      maxDupFrac: Double = 0.2): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val toks = docs.select(col(idCol), wordTokens(col(textCol)).alias("__w"))
    // 1-based start positions (matches SQL list slicing): gram i covers
    // tokens [i, i+k-1]; docs shorter than k contribute no grams
    val grams = toks
      .select(
        col(idCol),
        explode(transform(
          when(size(col("__w")) >= k, sequence(lit(1), size(col("__w")) - (k - 1)))
            .otherwise(array().cast("array<int>")),
          i => struct(
            i.alias("pos"),
            md5(concat_ws(" ", slice(col("__w"), i, lit(k)))).alias("h")))).alias("__g"))
      .select(col(idCol), col("__g.pos").alias("pos"), col("__g.h").alias("h"))
    val dupGrams = grams
      .select(col(idCol), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).alias("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("h"))
    val hits = grams
      .join(dupGrams, Seq("h"))
      .select(col(idCol), col("pos"), (col("pos") + (k - 1)).alias("__end"))
    // gaps-and-islands: a hit starts a new span iff it begins past the
    // running max end of all earlier hits in the same document
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val runningEnd =
      max(col("__end")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val spans = hits
      .withColumn("__new", when(col("pos") > coalesce(runningEnd, lit(0)), 1).otherwise(0))
      .withColumn("__island", sum(col("__new")).over(byDoc))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("pos")).alias("__s"), max(col("__end")).alias("__e"))
    val perDoc = spans
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").alias("__n_spans"),
        sum(col("__e") - col("__s") + 1).cast("long").alias("__dup_tokens"))
    toks
      .select(col(idCol), size(col("__w")).alias("n_tokens"))
      .join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        col("n_tokens"),
        coalesce(col("__n_spans"), lit(0)).alias("n_dup_spans"),
        coalesce(col("__dup_tokens"), lit(0L)).alias("dup_tokens"),
        round(coalesce(col("__dup_tokens"), lit(0L)).cast("double") / col("n_tokens"), 4)
          .alias("dup_frac"),
        (coalesce(col("__dup_tokens"), lit(0L)).cast("double") / col("n_tokens") <= maxDupFrac)
          .alias("keep"))
  }
}
